"""In-memory spans around calls into the engine's layers, with Spark counts.

A span records name, start, end, parent span, pass id and the Spark jobs,
executed stages and tasks that started while it was open. Spans stay in
memory and are written out once, when the run ends. Spark work is counted
through ``SparkContext.statusTracker()``: job ids are allocated in order, so
the jobs of a span are the ids that appeared between its start and its end.
That also catches jobs a call starts on other threads, such as streaming
micro-batches, which carry their own job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class JobCounter:
    """Claims the Spark jobs started since the previous claim."""

    def __init__(self, sc):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._next = 0
        self.claim()

    def claim(self) -> list[int]:
        # Job events reach the status store through the async listener bus.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = []
        while self._tracker.getJobInfo(self._next) is not None:
            ids.append(self._next)
            self._next += 1
        return ids

    def counts(self, job_ids: list[int]) -> dict:
        """Jobs, executed stages, completed and failed tasks of ``job_ids``."""
        stages: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
        return out


class Tracer:
    """Span recorder. Spans count Spark work only while ``counting`` is set
    and a job counter is given; otherwise they only take times."""

    def __init__(self, jobs: JobCounter | None = None):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs = jobs
        self.counting = jobs is not None
        self.overhead_s: dict[int, float] = {}  # pass id -> time spent counting

    def _attribute(self, sp: dict | None, pass_id: int) -> None:
        t0 = time.perf_counter()
        ids = self._jobs.claim()
        if sp is not None and ids:
            for k, v in self._jobs.counts(ids).items():
                sp[k] += v
        self.overhead_s[pass_id] = (self.overhead_s.get(pass_id, 0.0)
                                    + time.perf_counter() - t0)

    @contextmanager
    def span(self, name: str, pass_id: int, **attrs):
        """Time the block. Counts are totals over the span and its children."""
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None, "pass": pass_id,
              "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, **attrs}
        counting = self.counting and self._jobs is not None
        if counting:
            self._attribute(parent, pass_id)  # jobs the parent started before this span
        self.spans.append(sp)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if counting:
                self._attribute(sp, pass_id)
            self._stack.pop()
            if parent is not None:
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    parent[k] += sp[k]

    def dump(self, path: str) -> None:
        """Write every span, with its self time as ``self_s``, as one JSON list."""
        with open(path, "w") as fh:
            json.dump([{**sp, "self_s": self_time(self.spans, sp)} for sp in self.spans], fh)


def duration(sp: dict) -> float:
    return sp["end"] - sp["start"]


def self_time(spans: list[dict], sp: dict) -> float:
    """``sp``'s duration minus the part of it its child spans cover."""
    ivs = sorted((c["start"], c["end"]) for c in spans if c["parent"] == sp["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        s, e = max(s, sp["start"]), min(e, sp["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(sp) - covered
