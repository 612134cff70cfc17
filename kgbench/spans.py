"""Benchmark-side tracing: spans around calls into each layer.

A span records name, start, end, parent span and run id.  Spans are kept
in memory and written out once, at the end of a run.  When tracing is
on, each span also runs its Spark work under its own job group, so the
job, stage and task counts of one call come from ``statusTracker()``,
and shuffle bytes and per-task run times come from the event log of the
traced session (``EventLog``).  With tracing off a span only times.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None

    def attach(self, spark) -> None:
        """Use ``spark`` from now on; a session started inside a span
        runs the rest of that span's work under the span's job group."""
        self.spark = spark
        if self.enabled and self._stack:
            top = self._stack[-1]
            spark.sparkContext.setJobGroup(top.group, top.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.perf_counter())
        if not self.enabled:
            yield s
            s.end = time.perf_counter()
            return
        s.group = f"{self.run_id}:{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark is not None:
                sc = self.spark.sparkContext
                self._count(sc, s)
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc._jsc.clearJobGroup()

    @staticmethod
    def _count(sc, s: Span) -> None:
        st = sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(s.group))
        for j in s.jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                # stages skipped because an earlier job wrote their
                # shuffle output ran no tasks and do not count
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numTasks

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c.id for c in self.spans if c.parent == sid)
        return out

    def totals(self, span: Span) -> dict[str, int]:
        """Jobs, stages and tasks of a span including its children."""
        tree = self.subtree(span)
        return {"jobs": sum(len(s.jobs) for s in tree),
                "stages": sum(s.stages for s in tree),
                "tasks": sum(s.tasks for s in tree)}

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["seconds"] = s.seconds
                f.write(json.dumps(d) + "\n")


class EventLog:
    """Task-level numbers from the Spark event logs of a traced run.

    Read after the sessions stop, when the logs are complete.  Stage ids
    restart in each session, so stages are keyed by (log file, id)."""

    def __init__(self, log_dir: str):
        self.group_stages: dict[str, set] = {}
        self.group_executions: dict[str, set] = {}
        self.execution_calls: dict[tuple, str] = {}
        self.stage_scopes: dict[tuple, set] = {}
        self.tasks: dict[tuple, list[dict]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            self._read(path)

    def _read(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group:
                        self.group_stages.setdefault(group, set()).update(
                            (path, sid) for sid in ev["Stage IDs"])
                        execution = ev["Properties"].get(
                            "spark.sql.execution.id")
                        if execution is not None:
                            self.group_executions.setdefault(
                                group, set()).add((path, int(execution)))
                elif kind.endswith("SQLExecutionStart"):
                    # the first line of the details is the Dataset method
                    # that ran the query, e.g. ``...Dataset.count(...)``
                    self.execution_calls[(path, ev["executionId"])] = (
                        ev.get("details") or "").split("\n", 1)[0]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks.setdefault((path, ev["Stage ID"]), []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0)})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = set()
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            scopes.add(json.loads(scope).get("name", ""))
                    self.stage_scopes[(path, info["Stage ID"])] = scopes

    def stages_of(self, groups: list[str]) -> set:
        out: set = set()
        for g in groups:
            out |= self.group_stages.get(g, set())
        return out

    def actions(self, group: str, method: str) -> int:
        """Number of queries of one job group run by ``Dataset.<method>``."""
        return sum(1 for key in self.group_executions.get(group, ())
                   if f"Dataset.{method}(" in self.execution_calls.get(key, ""))

    def shuffle_bytes(self, groups: list[str]) -> int:
        return sum(t["shuffle_write"] for key in self.stages_of(groups)
                   for t in self.tasks.get(key, []))

    def task_times(self, groups: list[str], scope_word: str) -> list[int]:
        """Run times (ms) of the tasks of stages whose operator scopes
        mention ``scope_word``."""
        return [t["run_ms"] for key in self.stages_of(groups)
                if any(scope_word in s for s in self.stage_scopes.get(key, ()))
                for t in self.tasks.get(key, [])]
