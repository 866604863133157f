"""Spans around calls into the program's layers, for the traced run.

``Tracer.wrap`` replaces a module or class attribute with a wrapper
that records a span (name, start, end, parent span, run id) around each
call; ``Tracer.close`` puts every original back. Nothing here is
installed outside the traced phase, so the timed phase runs the
program untouched.

Spark spans also tag the jobs they start: each span sets its own job
group, so after the phase the status store tells which jobs, stages
and tasks ran directly under which span (``spark_counters``).
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+):")
# Python-boundary metrics of a MapInPandas / MapInArrow plan node
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self._sc = spark.sparkContext if spark is not None else None

    def _group(self, sid: int) -> str:
        return f"perfbench-{self.run_id}-{sid}"

    def _set_group(self, sid: int | None) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if sid is None else self._group(sid))

    @contextmanager
    def span(self, name: str, spark: bool = False):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "spark": spark, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if spark:
            self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                # jobs after this span belong to the enclosing Spark span
                parent = next((s for s in reversed(self._stack)
                               if self.spans[s]["spark"]), None)
                self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, spark: bool = False,
             after=None) -> None:
        """Record a span around every call of ``owner.attr``.
        ``after(result)`` runs inside the span and returns the value
        handed back to the caller."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, spark=spark):
                out = orig(*args, **kwargs)
                return after(out) if after is not None else out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reading the spans back ---------------------------------------

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_s(self, name: str) -> float:
        """Span time minus the time its direct child spans cover."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        child = sum(s["end"] - s["start"] for s in self.spans
                    if s["parent"] in ids)
        return self.total_s(name) - child

    def last_end(self, name: str) -> float:
        return max(s["end"] for s in self.spans if s["name"] == name)

    def _subtree(self, sid: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur, ()))
        return out

    def job_ids(self, spark, name: str) -> set[int]:
        """Spark jobs started under a span called ``name`` or under its
        child spans."""
        tracker = spark.sparkContext.statusTracker()
        jobs = set()
        for s in self.spans:
            if s["name"] == name:
                for sid in self._subtree(s["id"]):
                    jobs.update(tracker.getJobIdsForGroup(self._group(sid)))
        return jobs

    def spark_counters(self, spark, name: str) -> dict:
        """Status-store counters of the jobs of ``job_ids(name)``."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = self.job_ids(spark, name)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "gc_s": 0.0, "sched_wait_s": 0.0}
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                sd = _stage(store, sid)
                if sd is None or sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["gc_s"] += sd.jvmGcTime() / 1000
                out["sched_wait_s"] += _task_wait_s(sc, store, sd)
        return out


def _stage(store, stage_id: int):
    try:
        return store.lastStageAttempt(stage_id)
    except Exception:  # py4j: the store holds no attempt of this stage
        return None


def _task_wait_s(sc, store, sd) -> float:
    """Summed time the stage's tasks waited for a slot: task launch
    minus stage submission."""
    if sd.submissionTime().isEmpty():
        return 0.0
    submitted = sd.submissionTime().get().getTime()
    tasks = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.taskList(sd.stageId(), sd.attemptId(), 1 << 20))
    return sum(t.launchTime().getTime() - submitted for t in tasks) / 1000


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n12.3 MiB (...)' or '1,234' -> number
    (sizes in bytes)."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    parts = head.split(" ")
    num = float(parts[0].replace(",", ""))
    return num * _SIZE_UNITS.get(parts[1], 1) if len(parts) > 1 else num


def python_boundary(spark, job_ids: set[int]) -> dict:
    """Python-boundary SQL metrics of the MapInPandas/MapInArrow nodes
    of every SQL execution that ran one of ``job_ids``, plus the task
    time of the stages those nodes ran in."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {"py_bytes_in": 0.0, "py_bytes_out": 0.0, "py_rows_in": 0,
           "kernel_task_s": 0.0, "kernel_task_cpu_s": 0.0}
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    stages = set()
    it = sql.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        ex_jobs = {int(j) for j in conv.asJava(ex.jobs()).keySet()}
        if not ex_jobs & job_ids:
            continue
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("MapIn"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if not values.contains(m.accumulatorId()):
                    continue
                text = values.apply(m.accumulatorId())
                if m.name() == _PY_SENT:
                    out["py_bytes_in"] += _metric_value(text)
                    stages.update(int(s) for s, _ in _STAGE_RE.findall(text))
                elif m.name() == _PY_RECV:
                    out["py_bytes_out"] += _metric_value(text)
    for sid in stages:
        sd = _stage(store, sid)
        if sd is None:
            continue
        out["kernel_task_s"] += sd.executorRunTime() / 1000
        out["kernel_task_cpu_s"] += sd.executorCpuTime() / 1e9
        # rows that entered the kernel's stage: the repartitioned pages
        # it reads from the shuffle, or its scan when there is none
        out["py_rows_in"] += sd.shuffleReadRecords() or sd.inputRecords()
    return out
