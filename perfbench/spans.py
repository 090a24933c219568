"""Spans around eager engine calls, and their Spark cost from the event log.

A span is a named wall-clock interval recorded by the benchmark around a
call into one layer's public function. Spark is lazy, so the work of a
lazily built plan lands in the span of the eager call that runs it. In a
traced session every span also sets the Spark job group, so each job the
call triggers carries the span's path; after the session stops, the
session's event log is joined to the spans by that group id.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

PROBE_OP = 10_000      # operation index of traced probes, after timed ops


@dataclass
class Span:
    name: str
    path: tuple
    op: int
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def group(self) -> str:
        return "/".join(self.path) + f"#{self.op}"


class Tracer:
    """Records spans; sets Spark job groups when `spark` is given."""

    def __init__(self):
        self.spans: list[Span] = []
        self.spark = None          # set while a traced session is live
        self.op = -1               # index of the operation being timed
        self._stack: list[str] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        self._stack.append(name)
        s = Span(name, tuple(self._stack), self.op, time.perf_counter())
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if sc:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, prev)

    def patch(self, module, attr: str, value) -> None:
        """Set module.attr to value until unwrap_all()."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, value)

    def wrap(self, module, attr: str, name: str) -> None:
        """Run module.attr inside span(name), keeping its return value in
        the span's info["result"], until unwrap_all()."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as s:
                s.info["result"] = orig(*args, **kwargs)
                return s.info["result"]

        self.patch(module, attr, wrapped)

    def unwrap_all(self):
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def timed(self, name: str, op: int | None = None):
        """Spans called `name` inside timed operations (or operation op)."""
        return [s for s in self.spans if s.name == name
                and 0 <= s.op < PROBE_OP and (op is None or s.op == op)]


# ------------------------------------------------------------ event log --

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Every listener event application app_id logged in log_dir."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if app_id not in name or not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:   # torn last line
                    continue
    return events


@dataclass
class Cost:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    max_task_s: float = 0.0

    def add(self, o: "Cost") -> None:
        for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_write_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.max_task_s = max(self.max_task_s, o.max_task_s)


def cost_by_group(events: list[dict]) -> dict[str, Cost]:
    """Job group id -> summed task metrics of the jobs that ran in it."""
    stage_group: dict[int, str] = {}
    costs: dict[str, Cost] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            costs.setdefault(group, Cost()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                # a stage reused by a later job is skipped there; it ran
                # (and is charged) in the first job that listed it
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                costs[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            c = costs[g]
            run_s = m.get("Executor Run Time", 0) / 1e3
            c.tasks += 1
            c.task_s += run_s
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            c.spill_mb += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / 1e6
            c.max_task_s = max(c.max_task_s, run_s)
    return costs


def span_cost(span: Span, costs: dict[str, Cost]) -> Cost:
    """Inclusive cost of a span: its own jobs plus those of nested spans."""
    total = Cost()
    prefix = "/".join(span.path)
    for group, c in costs.items():
        path, _, op = group.rpartition("#")
        if int(op) == span.op and (path == prefix
                                   or path.startswith(prefix + "/")):
            total.add(c)
    return total
