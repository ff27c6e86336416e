"""Spans recorded from outside the engine.

``Tracer.wrap`` replaces a public function of an engine module with a
wrapper that, while tracing is on, records a span (name, start, end,
parent, cycle id) and runs the call in its own Spark job group. Spans
stay in memory; ``harvest`` reads each span's jobs back from Spark's
status store and ``dump`` writes everything out at the end.

Nothing in the engine changes: with tracing off (``active`` false) a
wrapper costs one attribute test and a call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from stats import self_time, union_length


class Span:
    __slots__ = ("id", "name", "parent", "cycle", "start", "end", "jobs", "children")

    def __init__(self, sid: int, name: str, parent: "Span | None", cycle: int | None):
        self.id, self.name, self.parent, self.cycle = sid, name, parent, cycle
        self.start = self.end = 0.0
        self.jobs: list[dict] = []
        self.children: list[Span] = []

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start

    def subtree_jobs(self) -> list[dict]:
        out = list(self.jobs)
        for c in self.children:
            out.extend(c.subtree_jobs())
        return out


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.active = False
        self.cycle: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.cycle)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, module: object, attr: str, name: str) -> None:
        """Route ``module.attr`` through a span named ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- Spark job attribution ---------------------------------------
    def harvest(self, spans: list[Span]) -> None:
        """Attach to each span the jobs of its own job group: stage and
        task counts, job interval, executor CPU, shuffle write, spill."""
        if not spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                job = {
                    "id": jid,
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                    "stages": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
                }
                ids = jd.stageIds()
                for i in range(ids.size()):
                    sd = store.lastStageAttempt(ids.apply(i))
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["cpu_s"] += sd.executorCpuTime() / 1e9
                    job["shuffle_write_b"] += sd.shuffleWriteBytes()
                    job["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sp.jobs.append(job)

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time: the duration minus
        the part of it its children cover."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent.id if sp.parent else None,
                    "cycle": sp.cycle, "start": sp.start, "end": sp.end,
                    "self_s": self_time(sp.start, sp.end, [(c.start, c.end) for c in sp.children]),
                    "jobs": [j["id"] for j in sp.jobs],
                }) + "\n")


def job_totals(jobs: list[dict]) -> dict[str, float]:
    """Spark-layer totals for a set of jobs; ``job_s`` is the union of
    the job intervals, so concurrent jobs are not double-counted."""
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(sum(j["stages"] for j in jobs)),
        "spark.tasks": float(sum(j["tasks"] for j in jobs)),
        "spark.job_s": union_length([(j["start"], j["end"]) for j in jobs if j["end"]]),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 2**20,
        "spark.spill_mb": sum(j["spill_b"] for j in jobs) / 2**20,
    }
