"""Spans and counters recorded from the benchmark's side of the engine.

The engine itself is not edited: ``Tracer.wrap`` replaces a public
function or method with a timing wrapper for the duration of a traced run
and ``restore`` puts the original back. Spans are kept in memory as
(name -> list of durations) and folded into per-layer metrics when the
run ends. Spark job, stage and task counts come from the status tracker
under a job group the benchmark sets per operation.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        # spans and counters are kept only while a traced operation runs
        self.active = False
        self.sc = spark.sparkContext
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self._group = 0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled and self.active:
                self.spans[name].append(time.perf_counter() - t0)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``;
        ``on_call(args, kwargs, result)`` may record counters."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextmanager
    def jobs(self, into: dict | None = None):
        """Run the body under a fresh job group; with tracing on, add the
        group's job/stage/task counts to ``into``."""
        if not self.enabled:
            yield
            return
        self._group += 1
        group = f"perfbench-{self._group}"
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        if into is not None:
            j, s, t = self._count(group)
            into["jobs"] = into.get("jobs", 0) + j
            into["stages"] = into.get("stages", 0) + s
            into["tasks"] = into.get("tasks", 0) + t

    def _count(self, group: str) -> tuple[int, int, int]:
        # job-start events reach the status store through the listener
        # bus asynchronously; drain it so the counts repeat exactly
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:  # skipped stages never ran
                    stages += 1
                    tasks += si.numTasks
        return len(job_ids), stages, tasks

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(self.spans.get(name, ()))

