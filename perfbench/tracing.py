"""Spans and Spark counters recorded around the benchmark's layer calls.

A ``Tracer`` that is off does nothing but yield, so the untraced run that
gives the end-to-end metrics pays no tracing cost. When on, it keeps every
span in memory (name, start, end, parent, operation id) and, per
operation, the Spark jobs, stages and tasks that ran. Its own bookkeeping
time is summed in ``cost_s``: that is the work the traced run does and the
untraced run does not, reported as the tracing overhead.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class JobCounter:
    """Counts the Spark jobs, stages and tasks run since the last call.

    Job ids are sequential per SparkContext, so the jobs of one operation
    are the ids after the last one seen. The status store is fed by an
    asynchronous listener bus; it is drained first so every finished task
    is counted and the counts repeat exactly."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.next_job = self._scan(0)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _scan(self, start: int) -> int:
        self._drain()
        j = start
        while self.tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def take(self) -> dict[str, int]:
        self._drain()
        jobs = stages = tasks = 0
        j = self.next_job
        while (info := self.tracker.getJobInfo(j)) is not None:
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
            j += 1
        self.next_job = j
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._op: int | None = None
        self._jobs: JobCounter | None = None

    def attach(self, sc) -> None:
        """Start counting jobs on a (new) SparkContext."""
        if self.enabled:
            t0 = time.perf_counter()
            self._jobs = JobCounter(sc)
            self.cost_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - c0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - rec["end"]

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one operation; records the Spark counters it ran."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        try:
            with self.span(f"op.{kind}", kind=kind):
                yield
        finally:
            c0 = time.perf_counter()
            counts = self._jobs.take() if self._jobs else {}
            self.ops.append({"op": op_id, "kind": kind, **counts})
            self._op = None
            self.cost_s += time.perf_counter() - c0

    def reset_jobs(self) -> None:
        """Skip the jobs run outside any operation (set-up, checks)."""
        if self._jobs is not None:
            t0 = time.perf_counter()
            self._jobs.next_job = self._jobs._scan(self._jobs.next_job)
            self.cost_s += time.perf_counter() - t0

    # ------------------------------------------------------------------ report

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus what its
        children cover, summed by layer (the span name's first part)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s:
                layer = s["name"].split(".", 1)[0]
                out[layer] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s.get("end", t0) - t0}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"meta": meta, "self_s": self.self_times(),
                       "ops": self.ops, "spans": spans}, f, indent=1)
