"""Spans and Spark counters for the traced run, read from outside the engine.

One operation of a pass (building and running one query, or one ETL step)
is recorded as a root span with two children, ``construct`` and
``execute``, which time the benchmark's own calls into the package. Spark's
own counters fill in the rest, with no change to the engine:

* a ``QueryExecutionListener`` registered over py4j hands over the
  ``QueryExecution`` of every SQL execution. Its ``QueryPlanningTracker``
  phases (analysis, optimization, planning) become child spans of the step
  that ran them, and its executed plan's SQL metrics give files and bytes
  read, shuffle bytes written, spill, peak memory and the Python-worker
  traffic and time;
* a job group per step lets ``statusTracker`` count the jobs and tasks
  each step launched, and the status store says when each job ran;
* the SQL status store (kept with the UI off) says when each SQL execution
  started and ended;
* ``getPersistentRDDs`` counts what an operation left persisted.

Each layer is timed by its own clock. ``sources.construct_s`` is the
construct span less the planning phases that started inside it;
``catalyst.*`` are the tracker's phase durations; ``exec.s`` is the time
inside the execute step during which a SQL execution or a Spark job was
running, by Spark's start and end times. Planning can run inside an
execution (adaptive re-planning, or a plan built on first use), so the
layers may overlap and an operation's coverage is their union, not their
sum: the construct span plus the union of the execute step's planning
phases, executions and jobs, over the operation's wall time. The execute
step's time that none of them explains (Python and py4j work before and
between executions) lowers it. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import threading
import time

# SQL metric name -> per-layer counter; times are converted to seconds
PLAN_METRICS = {
    "number of files read": "exec.files_read",
    "size of files read": "exec.bytes_read",
    "shuffle bytes written": "exec.shuffle_bytes_written",
    "spill size": "exec.spill_bytes",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.worker_run_s",
    "time to start Python workers": "arrow.worker_start_s",
}
_TIME_UNIT = {"timing": 1e3, "nsTiming": 1e9}
PHASES = ("analysis", "optimization", "planning")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


class _QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``;
    it runs on the listener bus, so it only queues what it is given."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._qes: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        with self._lock:
            self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        with self._lock:
            self._qes.append(qe)

    def drain(self) -> list:
        with self._lock:
            qes, self._qes = self._qes, []
        return qes

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans and per-operation Spark counters for one session."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._jvm = self.sc._jvm
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QueryListener()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self._listener)
        self._bus = spark._jsparkSession.sparkContext().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        known = self._sql.executionsList().iterator()
        self._next_exec = 0  # the first SQL execution id not yet read
        while known.hasNext():
            self._next_exec = max(self._next_exec, known.next().executionId() + 1)

    def close(self) -> None:
        self._manager.unregister(self._listener)

    def _span(self, name: str, start: float, end: float, parent: int | None, op: int) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    def _executions(self, since: float) -> list[tuple[int, float, float]]:
        """(id, start, end) of the finished SQL executions submitted from
        ``since`` on; earlier ones (an untraced pass's) are skipped."""
        out = []
        while True:
            found = self._sql.execution(self._next_exec)
            if not found.isDefined():
                return out
            self._next_exec += 1
            data = found.get()
            start = data.submissionTime() / 1e3
            if start >= since - 1e-3 and data.completionTime().isDefined():
                out.append((data.executionId(), start, data.completionTime().get().getTime() / 1e3))

    def run(self, op_id: int, op) -> tuple[dict, object, object]:
        """Run one operation under spans; return its counters, what
        ``construct`` built and what ``execute`` returned."""
        groups = (f"op{op_id}.construct", f"op{op_id}.execute")
        self.sc.setJobGroup(groups[0], op.name)
        t0 = time.time()
        built = op.construct()
        t1 = time.time()
        self.sc.setJobGroup(groups[1], op.name)
        out = op.execute(built)
        t2 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

        root = self._span(f"op:{op.name}", t0, t2, None, op_id)
        steps = (
            self._span("construct", t0, t1, root, op_id),
            self._span("execute", t1, t2, root, op_id),
        )
        rec = {"op": op.name, "wall_s": t2 - t0, "construct_span_s": t1 - t0,
               "exec_span_s": t2 - t1}
        rec.update({f"{p}_ms": 0.0 for p in PHASES})
        rec.update({k: 0.0 for k in PLAN_METRICS.values()})
        rec["peak_memory_bytes"] = 0.0

        self._bus.waitUntilEmpty()
        seen: set[int] = set()
        phases_seen: set[tuple] = set()
        planned: tuple[list, list] = ([], [])  # phase intervals per step
        for qe in self._listener.drain():
            phases = qe.tracker().phases()
            summaries = [(p, phases.apply(p)) for p in PHASES if phases.contains(p)]
            if any(s.startTimeMs() / 1e3 < t0 - 1e-3 for _p, s in summaries):
                continue  # planned before this operation: an untraced pass's
            for p, summary in summaries:
                key = (p, summary.startTimeMs(), summary.endTimeMs())
                if key in phases_seen:  # reported by two executions: count it once
                    continue
                phases_seen.add(key)
                start, end = key[1] / 1e3, key[2] / 1e3
                step = int(start >= t1)  # the step the phase started in
                self._span(f"plan.{p}", start, end, steps[step], op_id)
                rec[f"{p}_ms"] += summary.durationMs()
                planned[step].append((start, end))
            self._plan_counters(qe.executedPlan(), rec, seen)

        status = self.sc.statusTracker()
        construct_ids, exec_ids = (status.getJobIdsForGroup(g) for g in groups)
        rec["construct_jobs"], rec["exec_jobs"] = len(construct_ids), len(exec_ids)
        store = self.sc._jsc.sc().statusStore()
        running = []  # when the execute step's jobs and SQL executions ran
        for j in exec_ids:
            data = store.job(j)
            if data.submissionTime().isDefined() and data.completionTime().isDefined():
                start = data.submissionTime().get().getTime() / 1e3
                end = data.completionTime().get().getTime() / 1e3
                self._span(f"job{j}", start, end, steps[1], op_id)
                running.append((start, end))
        stages = {
            s for j in exec_ids
            for s in (status.getJobInfo(j).stageIds if status.getJobInfo(j) else ())
        }
        rec["exec_tasks"] = sum(
            info.numCompletedTasks for info in map(status.getStageInfo, stages) if info
        )
        for sql_id, start, end in self._executions(t0):
            if end > t1:
                self._span(f"sql{sql_id}", start, end, steps[1], op_id)
                running.append((start, end))
        rec["construct_s"] = (t1 - t0) - _covered(planned[0], t0, t1)
        rec["exec_s"] = _covered(running, t1, t2)
        rec["coverage"] = ((t1 - t0) + _covered(planned[1] + running, t1, t2)) / (t2 - t0)
        rec["persisted_rdds_after"] = self.sc._jsc.getPersistentRDDs().size()
        return rec, built, out

    def _plan_counters(self, plan, rec: dict, seen: set[int]) -> None:
        """Add the SQL metrics of ``plan`` and every plan under it (AQE
        stages, subqueries, and a cached relation's plan once per
        operation) into ``rec``."""
        todo = [plan]
        while todo:
            node = todo.pop()
            peak = 0
            it = node.metrics().iterator()
            while it.hasNext():
                metric = it.next()._2()
                name = metric.name().get() if metric.name().isDefined() else None
                value = metric.value()
                if value <= 0:
                    continue
                if name == "peak memory":
                    peak += value
                elif name in PLAN_METRICS:
                    rec[PLAN_METRICS[name]] += value / _TIME_UNIT.get(metric.metricType(), 1)
            rec["peak_memory_bytes"] = max(rec["peak_memory_bytes"], peak)
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            todo.extend(subs.apply(i) for i in range(subs.size()))
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            elif cls == "InMemoryTableScanExec":
                cached = node.relation().cachedPlan()
                key = self._jvm.System.identityHashCode(cached)
                if key not in seen:
                    seen.add(key)
                    todo.append(cached)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
