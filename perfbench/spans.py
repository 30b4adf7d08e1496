"""Spans recorded from the benchmark's side of each public call.

A span has a name, a request id shared by the spans of one request, its
parent, start and end, and the Spark work the call caused: jobs and stages
(from the DAG scheduler's id counters, exact), tasks and failed tasks (from
the status store of the stages it ran) and JVM garbage-collection time.
Spans stay in memory and are written out as JSON when the run ends.  With
tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class SparkCounters:
    """Counters read over py4j from the live SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())

    def jobs(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def stages(self) -> int:
        return int(self._jsc.dagScheduler().nextStageId())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def snapshot(self) -> dict:
        return {"jobs": self.jobs(), "stages": self.stages(), "gc_ms": self.gc_ms()}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status store holds the stages that already ran."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def tasks(self, first_stage: int, end_stage: int) -> tuple[int, int]:
        """(completed, failed) tasks of the stages with ids in the range."""
        tracker = self._sc.statusTracker()
        done = failed = 0
        for sid in range(first_stage, end_stage):
            info = tracker.getStageInfo(sid)
            if info is not None:
                done += info.numCompletedTasks
                failed += info.numFailedTasks
        return done, failed


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counters: SparkCounters | None = None

    def bind(self, spark) -> None:
        """Point the counters at the current SparkContext (after a restart)."""
        if self.enabled:
            self._counters = SparkCounters(spark)

    def drain(self) -> None:
        if self._counters:
            self._counters.drain()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        c = self._counters
        record = {
            "name": name,
            "request": request,
            "parent": self._stack[-1] if self._stack else None,
        }
        before = c.snapshot() if c else None
        record["start"] = time.perf_counter()
        self._stack.append(len(self.spans))
        self.spans.append(record)
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()
            if c:
                after = c.snapshot()
                c.drain()
                record["jobs"] = after["jobs"] - before["jobs"]
                record["stages"] = after["stages"] - before["stages"]
                record["gc_ms"] = after["gc_ms"] - before["gc_ms"]
                record["tasks"], record["failed_tasks"] = c.tasks(before["stages"], after["stages"])

    # ---- summaries over the recorded spans

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median_s(self, name: str, in_requests: bool = False) -> float:
        """Median duration; with ``in_requests``, of the spans that belong
        to a request of the timed loop only."""
        spans = [s for s in self.named(name) if s["request"] is not None or not in_requests]
        return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0

    def median_count(self, name: str, key: str) -> float:
        spans = self.named(name)
        return statistics.median(s.get(key, 0) for s in spans) if spans else 0.0

    def total(self, key: str) -> int:
        """Sum over top-level spans, so nested work is counted once."""
        return sum(s.get(key, 0) for s in self.spans if s["parent"] is None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)
