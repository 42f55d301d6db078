"""Spans, job-group attribution and event-log parsing for the traced run.

A span is one call: name, start, end, parent span and operation id. Spans
live in memory and are written once, when the run ends. Every span that
may fire Spark jobs sets ``sparkContext.setJobGroup(<span id>, ...)``, so
the jobs, stages and tasks under it can be read back from
``statusTracker()`` and, for shuffle, spill and CPU, from Spark's event
log (written uncompressed so it parses as plain JSON lines).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    op_id: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around the benchmark's calls into the program.

    ``Tracer(None)`` is the untraced form: ``span`` only yields, so timed
    runs pay for nothing but a generator frame per call."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        op = op_id or (parent.op_id if parent else name)
        sp = Span(f"s{self._n}:{name}", name, op, parent and parent.span_id,
                  time.perf_counter(), attrs=dict(attrs))
        self._stack.append(sp)
        self.sc.setJobGroup(sp.span_id, op, interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp)
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.span_id, parent.op_id, interruptOnCancel=False)
            else:
                self.sc._jsc.clearJobGroup()

    def _count_jobs(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(sp.span_id):
            sp.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span under it."""
        ids = {root.span_id}
        out = [root]
        for s in sorted(self.spans, key=lambda s: s.start):
            if s.parent in ids:
                ids.add(s.span_id)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class TaskTotals:
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: TaskTotals) -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def event_log_totals(log_dir: str) -> dict[str, TaskTotals]:
    """Per job group task totals from the (uncompressed) event log files in
    ``log_dir``. Tasks of jobs started outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, TaskTotals] = defaultdict(TaskTotals)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    t = totals[stage_group.get(ev["Stage ID"], "")]
                    t.tasks += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        t.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    t.executor_run_ms += m.get("Executor Run Time", 0)
                    t.executor_cpu_ns += m.get("Executor CPU Time", 0)
                    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rd = m.get("Shuffle Read Metrics") or {}
                    t.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(totals)
