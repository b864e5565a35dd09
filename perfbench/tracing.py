"""Outside-in tracing for the traced run.

Spans are recorded by the benchmark's own wrappers around calls into
the engine's layers.  Each span has a name, start and end (epoch ms),
the span that caused it and the request id it serves.  A span opened
with ``jobs=True`` puts the Spark jobs its thread submits into a job
group of its own; after the timed phase, :meth:`Tracer.attach_counters`
reads those jobs' stages back from the JVM status store (tasks,
task-time, CPU, shuffle, spill and the stage run intervals).

A disabled tracer records nothing and sets no job group, so untraced
runs call the engine exactly as a user would.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from common import pctl

_STAGE_FIELDS = ("tasks", "task_ms", "cpu_ms", "shuffle_read_b", "shuffle_write_b", "spill_b")


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request_id: str | None = None, jobs: bool = False):
        """Record one span around the body; yields the span record (a
        dict the body may annotate) or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id or (parent["request_id"] if parent else None),
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        prev_group = None
        if jobs:
            rec["job_group"] = f"pb-{rec['id']}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["job_group"], name)
        stack.append(rec)
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end_ms"] = time.time() * 1000.0
            stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def attach_counters(self) -> None:
        """Read each job-grouped span's Spark jobs and stages from the
        status store into ``span["spark"]``.  Runs after the timed phase:
        the listener bus is drained first so every finished stage is
        visible."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        counted: set[int] = set()  # a stage shared by jobs counts once
        for rec in self.spans:
            group = rec.get("job_group")
            if group is None:
                continue
            agg = {k: 0 for k in _STAGE_FIELDS}
            agg.update(jobs=0, stages=0, stage_intervals=[])
            for jid in tracker.getJobIdsForGroup(group):
                agg["jobs"] += 1
                for sid in store.job(jid).stageIds().mkString(",").split(","):
                    if not sid or int(sid) in counted:
                        continue
                    counted.add(int(sid))
                    st = self._stage(store, int(sid))
                    if st is None:
                        continue
                    agg["stages"] += 1
                    for k in _STAGE_FIELDS:
                        agg[k] += st[k]
                    if st["start_ms"] is not None and st["end_ms"] is not None:
                        agg["stage_intervals"].append((st["start_ms"], st["end_ms"]))
            rec["spark"] = agg

    @staticmethod
    def _stage(store, sid: int) -> dict | None:
        """Counters of a stage's last attempt; None for a stage that was
        skipped (its output was reused) and so ran no tasks."""
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": sd.numCompleteTasks(),
            "task_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() / 1e6,
            "shuffle_read_b": sd.shuffleReadBytes(),
            "shuffle_write_b": sd.shuffleWriteBytes(),
            "spill_b": sd.diskBytesSpilled(),
            "start_ms": _opt_ms(sd.firstTaskLaunchedTime()) or _opt_ms(sd.submissionTime()),
            "end_ms": _opt_ms(sd.completionTime()),
        }

    def add(self, name: str, start_ms: float, end_ms: float, request_id: str) -> dict:
        """Record a span measured outside the tracer (e.g. by a client
        thread) and return it, so spans it caused can point at it."""
        rec = {"id": next(self._ids), "name": name, "parent": None,
               "request_id": request_id, "start_ms": start_ms, "end_ms": end_ms}
        with self._lock:
            self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


def plan_ms(df) -> float:
    """Catalyst time recorded on a DataFrame's query execution (analysis,
    optimization and physical planning phases), in ms."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def uncovered_ms(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] covered by none of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


def spark_totals(spans: list[dict]) -> dict:
    """Sum the Spark counters over spans (each job group counted once)."""
    tot = {k: 0 for k in _STAGE_FIELDS}
    tot.update(jobs=0, stages=0)
    for rec in spans:
        sp = rec.get("spark")
        if sp:
            for k in tot:
                tot[k] += sp[k]
    return tot


def sched_gap_ms(spans: list[dict]) -> float:
    """Execute wall not covered by any stage run interval, summed over
    job-grouped spans."""
    gap = 0.0
    for rec in spans:
        sp = rec.get("spark")
        if sp and sp["jobs"]:
            gap += uncovered_ms(rec["start_ms"], rec["end_ms"], sp["stage_intervals"])
    return gap


def spark_per_op(spans: list[dict], execs: list[dict], n_ops: int) -> dict:
    """The ``spark.*`` per-layer metrics of a traced phase of ``n_ops``
    operations: Spark counters summed over ``spans``; Catalyst time,
    execute time and the scheduling gap over ``execs``, the spans whose
    jobs produce the operations' results."""
    tot = spark_totals(spans)
    ex_jobs = spark_totals(execs)["jobs"]
    n = max(1, n_ops)
    return {
        "spark.plan_ms_per_op": sum(s.get("plan_ms", 0.0) for s in execs) / n,
        "spark.execute_p50_ms": pctl([s["end_ms"] - s["start_ms"] for s in execs], 0.5),
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.task_ms_per_op": tot["task_ms"] / n,
        "spark.cpu_ms_per_op": tot["cpu_ms"] / n,
        "spark.shuffle_read_kb_per_op": tot["shuffle_read_b"] / 1024.0 / n,
        "spark.shuffle_write_kb_per_op": tot["shuffle_write_b"] / 1024.0 / n,
        "spark.spill_kb_per_op": tot["spill_b"] / 1024.0 / n,
        "spark.sched_gap_ms_per_job": sched_gap_ms(execs) / max(1, ex_jobs),
    }
