"""Spans around the calls into each engine layer, plus the Spark-side
counts of the job group each op runs under.

Spans are kept in memory and written out when the run ends. A span has
a name (``<layer>.<call>``), a start, an end, a parent and the id of the
op it belongs to. A layer's self time is its spans' durations minus the
part covered by their child spans.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import procstat

# layers in the order the per-layer report lists them; "bench" is the
# harness itself (the op's root span)
LAYERS = ["bench", "catalog", "dialect", "queries", "session", "tables"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"op": self.op_id, "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_time(self) -> dict[str, float]:
        """Seconds of self time per layer over all spans."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".")[0]
            out[layer] += (s["end"] - s["start"]) - covered[i]
        return out


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs and during set-up."""

    op_id = None

    def span(self, name: str):
        return nullcontext()


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, from
    its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def python_udf_metrics(df) -> dict[str, float]:
    """Python-worker SQL metrics summed over ``df``'s executed plan:
    run time (ms) and bytes sent to and returned from the workers."""
    out = {"py_ms": 0.0, "arrow_bytes": 0.0}

    def walk(plan):
        cls = plan.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(plan.finalPhysicalPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(plan.plan())
            return
        it = plan.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key == "pythonTotalTime":
                out["py_ms"] += kv._2().value()
            elif key in ("pythonDataSent", "pythonDataReceived"):
                out["arrow_bytes"] += kv._2().value()
        children = plan.children().iterator()
        while children.hasNext():
            walk(children.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def group_counts(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of one job group, read from
    Spark's status store. ``exec_s`` is the union of the jobs' run
    intervals, so concurrent jobs (broadcasts) are not double-counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    c = defaultdict(float)
    intervals = []
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        c["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
        stage_ids = job.stageIds().iterator()
        while stage_ids.hasNext():
            sid = stage_ids.next()
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles).iterator()
            while attempts.hasNext():
                st = attempts.next()
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["single_task_stages"] += st.numTasks() == 1
                c["task_ms"] += st.executorRunTime()
                c["gc_ms"] += st.jvmGcTime()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["scan_rows"] += st.inputRecords()
    exec_ms, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            exec_ms += b - a
            end = b
        elif b > end:
            exec_ms += b - end
            end = b
    c["exec_ms"] = exec_ms
    return dict(c)


class WorkerCpu:
    """Per-op CPU seconds of the PySpark worker processes."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.last = procstat.python_worker_cpu_seconds(root)

    def delta(self) -> float:
        now = procstat.python_worker_cpu_seconds(self.root)
        # a restarted daemon resets its counters; never report negative
        d, self.last = max(0.0, now - self.last), now
        return d
