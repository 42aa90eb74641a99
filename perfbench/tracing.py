"""In-memory span recorder for the traced benchmark run.

A span times one call into a layer's public function. Each span opens its
own Spark job group, so the jobs, stages and tasks the call launched are
read back from ``statusTracker`` when it closes. Spans nest per thread:
the parent's job group is restored when a child closes, and a parent's
counts include its children's. Spans stay in memory until the run writes
them out at the end.

Instrumentation only ever wraps functions from the benchmark's side (see
``instrument``); with tracing off nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "group": f"perfbench-span-{sid}",
            **attrs,
        }
        stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count(rec)
            with self._lock:
                self.spans.append(rec)

    def _count(self, rec: dict) -> None:
        jobs = self.status.getJobIdsForGroup(rec["group"])
        stages = tasks = 0
        for jid in jobs:
            info = self.status.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.status.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numCompletedTasks
        rec["own_jobs"], rec["own_stages"], rec["own_tasks"] = len(jobs), stages, tasks

    def totals(self) -> None:
        """Fold each span's own counts into inclusive ``jobs/stages/tasks``."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            for k in ("jobs", "stages", "tasks"):
                s[k] = s[f"own_{k}"]
        for s in sorted(self.spans, key=lambda s: -s["id"]):
            parent = by_id.get(s["parent"])
            if parent is not None:
                for k in ("jobs", "stages", "tasks"):
                    parent[k] += s[k]

    def since(self, mark: int) -> list[dict]:
        return [s for s in self.spans if s["id"] > mark]

    def mark(self) -> int:
        return next(self._ids)


def seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def total(spans: list[dict], key: str) -> int:
    return sum(s[key] for s in spans)


def wrap(owner, attr: str, tracer: Tracer, span_name: str, attrs=None) -> None:
    """Replace ``owner.attr`` with a version that runs inside a span."""
    original = getattr(owner, attr)

    @functools.wraps(original)
    def traced(*args, **kwargs):
        extra = attrs(*args, **kwargs) if attrs else {}
        with tracer.span(span_name, **extra):
            return original(*args, **kwargs)

    setattr(owner, attr, traced)
