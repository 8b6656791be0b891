"""In-memory spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own calls into each layer of the
program (connection, model compile, Catalyst planning, result fetch, ops,
sinks); nothing inside the program is instrumented. A disabled tracer
records nothing and touches neither py4j nor Spark.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

import py4j.java_gateway


class Py4jCounter:
    """Counts py4j round-trips per Python thread by wrapping the client's
    ``send_command`` (the single call every py4j method invocation, field
    access and object creation goes through)."""

    def __init__(self) -> None:
        self._local = threading.local()
        self._original = None

    def count(self) -> int:
        return getattr(self._local, "n", 0)

    def install(self) -> None:
        cls = py4j.java_gateway.GatewayClient
        self._original = original = cls.send_command
        local = self._local

        def send_command(client, *args, **kwargs):
            local.n = getattr(local, "n", 0) + 1
            return original(client, *args, **kwargs)

        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._original is not None:
            py4j.java_gateway.GatewayClient.send_command = self._original
            self._original = None


class Tracer:
    """Spans with name, start, end, parent and request id, kept in memory
    and written out by :meth:`dump`. ``attrs`` of a span may be filled in
    while it is open (counters measured at the same boundary)."""

    def __init__(self, enabled: bool, counter: Py4jCounter | None = None) -> None:
        self.enabled = enabled
        self.counter = counter
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "name": name,
            **attrs,
        }
        calls0 = self.counter.count() if self.counter else 0
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.counter:
                rec["jvm_calls"] = self.counter.count() - calls0
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


class EngineProbe:
    """Spark-side counters per job group: jobs from the status tracker, and
    completed tasks, task run time, GC time, input and shuffle-write bytes
    summed over the jobs' stages from the status store (both kept with the
    UI disabled). The executor summary is not used: in local mode its
    ``totalDuration`` grows with wall time while no task runs."""

    FIELDS = {
        "tasks": "numCompleteTasks",
        "task_ms": "executorRunTime",
        "gc_ms": "jvmGcTime",
        "input_bytes": "inputBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism

    def group_stats(self, group: str) -> dict:
        """``jobs`` run so far under job group ``group``, and FIELDS summed
        over their stages."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stats = dict.fromkeys(self.FIELDS, 0)
        stats["jobs"] = len(jobs)
        for job in jobs:
            info = self.tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                data = self.store.lastStageAttempt(stage)
                for key, getter in self.FIELDS.items():
                    stats[key] += getattr(data, getter)()
        return stats
