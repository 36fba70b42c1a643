"""Spans, Spark job accounting and per-layer aggregation for the traced run.

Spans are recorded here, in the benchmark, around calls into the
package; nothing inside the package is instrumented. Each span gets its
own Spark job group (``sc.setJobGroup``), so every job, stage and task
can be attributed to the innermost span that submitted it:

- job/stage/task counts come from ``SparkContext.statusTracker()``;
- task figures (executor run/CPU time, GC, shuffle, spill, result
  bytes) come from the Spark event log, parsed after the session stops.

Calls made inside a public function (``content_fingerprint`` inside
``run_incremental``, ``ControlTable.upsert``, ``add_to_index`` ...) are
timed by :meth:`Tracer.patch`, which wraps the attribute for the traced
run only and restores it on exit.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None  # None: set-up / outside the timed loop
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task: dict = field(default_factory=dict)  # event-log sums, filled by attach_event_log

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


TASK_FIGURES = ("run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "result_bytes")


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    so the untraced run executes the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self.counters: dict[tuple[int | None, str], float] = defaultdict(float)
        self._stack: list[Span] = []
        self.op: int | None = None
        self.t0 = time.perf_counter()

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op,
                 time.perf_counter() - self.t0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(parent)
            self._count_jobs(s)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[(self.op, name)] += value

    def _count_jobs(self, s: Span) -> None:
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(s.group):
            s.jobs += 1
            info = st.getJobInfo(job)
            for stage in info.stageIds if info else ():
                si = st.getStageInfo(stage)
                if si is not None and si.numCompletedTasks > 0:  # skipped stages run nothing
                    s.stages += 1
                    s.tasks += si.numCompletedTasks

    @contextlib.contextmanager
    def patch(self, owner, attr: str, name: str, on_result=None):
        """Time every call of ``owner.attr`` as span ``name`` (traced run
        only); ``on_result`` receives each call's return value."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    # --- after the session stopped -----------------------------------

    def attach_event_log(self, log_dir: str) -> None:
        """Sum task metrics per span from the (uncompressed) event log."""
        stage_group: dict[int, str] = {}
        per_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIGURES, 0.0))
        files = sorted(
            (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and "events_" in os.path.basename(p)),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    event = json.loads(line)
                    kind = event["Event"]
                    if kind == "SparkListenerStageSubmitted":
                        group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            stage_group[event["Stage Info"]["Stage ID"]] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(event["Stage ID"])
                        m = event.get("Task Metrics")
                        if group is None or not m:
                            continue
                        g = per_group[group]
                        g["run_s"] += m["Executor Run Time"] / 1e3
                        g["cpu_s"] += m["Executor CPU Time"] / 1e9
                        g["gc_s"] += m["JVM GC Time"] / 1e3
                        g["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                        g["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        g["result_bytes"] += m["Result Size"]
        for s in self.spans:
            s.task = dict(per_group.get(s.group, dict.fromkeys(TASK_FIGURES, 0.0)))

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it covered by child spans."""
        children = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, cursor = 0.0, s.start
        for start, end in children:
            start, end = max(start, cursor), min(end, s.end)
            if end > start:
                covered += end - start
                cursor = end
        return (s.end - s.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                        "start": round(s.start, 6), "end": round(s.end, 6),
                        "self_s": round(self.self_time(s), 6),
                        "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks, "task": s.task,
                    }
                    for s in self.spans
                ],
                fh,
                indent=1,
            )
