"""Spans and Spark counts, recorded from outside the engine.

``Tracer`` wraps public functions of the engine's layers and rebinds
them in every ``neo_olap_spark`` module that holds a reference (the
``from neo_olap_spark.tables import load`` copies included), so the
engine runs unmodified. Each call becomes a span: name, start, end,
parent span and the Spark jobs launched inside it. A span attributes
jobs by giving the calling thread its own Spark job group for the
duration of the call; jobs are resolved from ``statusTracker`` after
the key's timed run, so the lookups cost nothing inside the timing.

``spark_counts`` reads jobs, stages and tasks for a contiguous range of
job ids, which also covers jobs that engine code submits from its own
driver threads (those carry no job group).
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"

#: (module, function) pairs wrapped by the traced passes, with the
#: metric prefix each reports under.
TARGETS = (
    ("neo_olap_spark.tables", "load", "tables"),
    ("neo_olap_spark.graph", "edge_count_estimate", "graph"),
    ("neo_olap_spark.functions", "loop_checkpoint", "functions"),
    ("neo_olap_spark.operators.graph_algos", "bfs_distances", "graph_algos"),
)


def drain_listener_bus(sc) -> None:
    """Wait until Spark's listener bus has delivered every event, so
    ``statusTracker`` has seen all jobs and stages submitted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def next_job_id(sc) -> int:
    """Id the scheduler gives the next submitted job (job ids are
    sequential per SparkContext and assigned on the submitting thread)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def spark_counts(sc, first_job: int, end_job: int) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks for job ids in
    ``[first_job, end_job)``. Stages skipped because their shuffle
    output was reused count neither as stages nor as tasks."""
    drain_listener_bus(sc)
    st = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in range(first_job, end_job):
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        s = st.getStageInfo(sid)
        if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
            continue
        stages += 1
        tasks += s.numCompletedTasks
        failed += s.numFailedTasks
    return {
        "jobs": end_job - first_job,
        "stages": stages,
        "tasks": tasks,
        "failed_tasks": failed,
    }


@dataclass
class Span:
    id: int
    name: str
    key: str
    phase: str
    start: float
    end: float
    parent: int | None
    group: str
    eager: bool | None = None
    jobs: int | None = None  # own jobs, excluding child spans
    children: list[int] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "key": self.key,
            "phase": self.phase, "start": self.start, "end": self.end,
            "parent": self.parent, "jobs": self.jobs, "eager": self.eager,
        }


class Tracer:
    """Wraps ``TARGETS`` while installed; keeps spans in memory."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.context = ("", "")  # (key, phase) of the run in progress
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._main_stack = self._stack()

    # -- per-thread span stack and job group ---------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.group = None
        return self._local.stack

    def set_group(self, group: str | None) -> None:
        """Set the calling thread's Spark job group (None clears it)."""
        self._stack()
        self._local.group = group
        self.sc.setLocalProperty(GROUP_PROP, group)

    def _wrap(self, qualname: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            if stack:
                parent = stack[-1]
            elif threading.get_ident() != self._main:
                # engine-spawned driver threads have no stack of their
                # own: their caller is the main thread's innermost span
                main = self._main_stack
                parent = main[-1] if main else None
            else:
                parent = None
            with self._lock:
                sid = len(self.spans)
                key, phase = self.context
                span = Span(sid, qualname, key, phase, 0.0, 0.0, parent,
                            f"{key}:{phase}:{qualname}#{sid}")
                self.spans.append(span)
            if qualname == "functions.loop_checkpoint":
                span.eager = bool(kwargs.get("eager", args[1] if len(args) > 1 else True))
            prev = self._local.group
            self.set_group(span.group)
            stack.append(sid)
            span.start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                self.set_group(prev)

        return wrapper

    # -- install / uninstall ---------------------------------------------
    def install(self) -> None:
        loaded = [m for n, m in list(sys.modules.items())
                  if n.startswith("neo_olap_spark") and m is not None]
        for mod_name, fn_name, prefix in TARGETS:
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(f"{prefix}.{fn_name}", original)
            for mod in loaded:
                if getattr(mod, fn_name, None) is original:
                    self._originals.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, fn_name, original in reversed(self._originals):
            setattr(mod, fn_name, original)
        self._originals.clear()

    # -- after each timed run -------------------------------------------
    def resolve_jobs(self) -> None:
        """Fill in ``jobs`` of every span that has none yet."""
        pending = [s for s in self.spans if s.jobs is None]
        if not pending:
            return
        drain_listener_bus(self.sc)
        st = self.sc.statusTracker()
        for s in pending:
            s.jobs = len(st.getJobIdsForGroup(s.group))
            if s.parent is not None:
                self.spans[s.parent].children.append(s.id)

    def inclusive_jobs(self, span: Span) -> int:
        return (span.jobs or 0) + sum(
            self.inclusive_jobs(self.spans[c]) for c in span.children
        )

    def layer_totals(self, phase: str) -> dict[str, dict[str, float]]:
        """Per span name: calls, seconds, inclusive jobs and eager calls
        over the spans recorded in ``phase``."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.phase != phase:
                continue
            t = out.setdefault(s.name, {"calls": 0, "s": 0.0, "jobs": 0, "eager_calls": 0})
            t["calls"] += 1
            t["s"] += s.end - s.start
            t["jobs"] += self.inclusive_jobs(s)
            t["eager_calls"] += int(bool(s.eager))
        return out
