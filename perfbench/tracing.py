"""Spans and Spark stage metrics for a traced benchmark run.

Every span labels the Spark jobs it launches with the job group
``<scope>/<phase>``; after the run, :func:`stage_metrics` reads executor
run time, executor CPU time and shuffle-write bytes per group from the
driver's application status store. The store is populated with
``spark.ui.enabled=false`` too; only its retention limits matter, which
:data:`SESSION_CONF` raises so no job of a run is evicted.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

SESSION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Collects ``(scope, phase, start, end)`` spans from any thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str, float, float]] = []
        self.groups: dict[str, None] = {}  # insertion-ordered set
        self._lock = threading.Lock()

    @contextmanager
    def group(self, name: str):
        """Label the current thread's Spark jobs with ``name``."""
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(name, name)
        with self._lock:
            self.groups[name] = None
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, prev)

    @contextmanager
    def span(self, scope: str, phase: str):
        with self.group(f"{scope}/{phase}"):
            t0 = time.monotonic()
            try:
                yield
            finally:
                t1 = time.monotonic()
                with self._lock:
                    self.spans.append((scope, phase, t0, t1))


def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals; concurrent spans
    (CrawlDriver's fork-joined writes) are counted once."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def stage_metrics(spark, groups) -> dict[str, dict]:
    """``{group: {jobs, run_s, cpu_s, shuffle_write_bytes}}``. A stage
    listed by several jobs (a reused shuffle) is charged to the first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {g: {"jobs": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0}
           for g in groups}
    owner: dict[int, tuple[int, str]] = {}
    for g in groups:
        job_ids = tracker.getJobIdsForGroup(g)
        out[g]["jobs"] = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                s = int(s)
                if s not in owner or j < owner[s][0]:
                    owner[s] = (j, g)
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    it = stages.iterator()
    while it.hasNext():
        d = it.next()
        hit = owner.get(d.stageId())
        if hit is None:
            continue
        m = out[hit[1]]
        m["run_s"] += d.executorRunTime() / 1e3
        m["cpu_s"] += d.executorCpuTime() / 1e9
        m["shuffle_write_bytes"] += d.shuffleWriteBytes()
    return out
