"""In-memory spans and counters around the calls into each engine layer.

A span records its name, start, end, parent and the Spark job-id range
it covered. Job ids come from the DAG scheduler's id counter, read
synchronously before and after the span, so a count is exact no matter
how many jobs the UI status store retains. After each top-level span the
listener bus is drained and every job the span caused is resolved to its
stages through the status store (``lastStageAttempt``), which gives task
counts and shuffle/input bytes per layer with the Spark UI disabled.

A layer's self time is its span's duration minus the time its child
spans cover; jobs, tasks and bytes are charged to the innermost span
that caused them. Nothing is written until :meth:`Tracer.summary`.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self.counts: dict[str, float] = defaultdict(float)
        self.active = False

    def next_job_id(self) -> int:
        """Ids the scheduler has handed out so far (the next job's id)."""
        return self._dag.nextJobId()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "children": [],
            "job0": self.next_job_id(),
            "t0": time.perf_counter(),
        }
        self.spans.append(s)
        if parent:
            parent["children"].append(s["id"])
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            s["job1"] = self.next_job_id()
            self._stack.pop()
            if not self._stack:
                self._harvest(s)

    def count(self, name: str, value: float = 1) -> None:
        if self.active:
            self.counts[name] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or class attribute, or a dict
        entry) by a wrapper that runs the original inside a span."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    # -- stage resolution -------------------------------------------------

    def _harvest(self, top: dict) -> None:
        """Charge every job under ``top`` to its innermost span and
        resolve the jobs' stages (tasks, shuffle and input bytes)."""
        self._bus.waitUntilEmpty()
        for s in self.spans[top["id"]:]:
            jobs = set(range(s["job0"], s["job1"]))
            child_time = 0.0
            for c in s["children"]:
                child = self.spans[c]
                jobs -= set(range(child["job0"], child["job1"]))
                child_time += child["t1"] - child["t0"]
            s["self_s"] = s["t1"] - s["t0"] - child_time
            s["jobs"] = len(jobs)
            s["tasks"] = s["shuffle_write_bytes"] = s["input_bytes"] = 0
            for j in sorted(jobs):
                for stage in self._stage_ids(j):
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    try:
                        st = self._store.lastStageAttempt(stage)
                    except Py4JJavaError:  # evicted or never submitted
                        continue
                    s["tasks"] += st.numCompleteTasks()
                    s["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    s["input_bytes"] += st.inputBytes()

    def _stage_ids(self, job_id: int) -> list[int]:
        try:
            ids = self._store.job(job_id).stageIds()
        except Py4JJavaError:  # a job id the store never saw
            return []
        return [ids.apply(i) for i in range(ids.size())]

    # -- output -----------------------------------------------------------

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, self seconds, jobs, tasks and bytes,
        summed over every recorded span of that name."""
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0,
                     "shuffle_write_bytes": 0, "input_bytes": 0}
        )
        for s in self.spans:
            agg = out[s["name"]]
            agg["calls"] += 1
            for k in ("self_s", "jobs", "tasks", "shuffle_write_bytes", "input_bytes"):
                agg[k] += s.get(k, 0)
        return out
