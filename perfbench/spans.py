"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its own calls into each
package layer; no code inside the package is instrumented. A span has a
name, start, end, parent span and job id. Spans stay in memory and are
written as JSON when the run ends. With tracing off the same call sites
use ``NULL``, whose spans do nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    on = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job: str | None = None, spark_work: bool = True):
        """Time the enclosed call. With ``spark_work`` the Spark jobs it
        launches run under a job group of their own and are counted;
        such spans must not nest."""
        idx = len(self.spans)
        rec = {"name": name, "job": job, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        if spark_work:
            sc.setJobGroup(f"span{idx}", name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if spark_work:
                sc.setJobGroup("idle", "")
                rec.update(spark_counts(sc, f"span{idx}"))

    def jvm_gc_heap(self) -> tuple[float, float]:
        """(cumulative GC seconds, heap in use MB) from the JVM's
        management beans."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc_ms / 1e3, mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _NullTracer:
    on = False
    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, job: str | None = None, spark_work: bool = True):
        yield {}


NULL = _NullTracer()


def spark_counts(sc, group: str) -> dict:
    """Jobs, the stages that ran, their tasks and failed task attempts
    of one job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if sid in seen or st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            seen.add(sid)
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
