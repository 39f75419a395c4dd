"""Spans and Spark counters recorded from outside the engine.

A span is one call into an engine layer: name, start, end, parent span
and the trace id of the pass or query call it belongs to. Spans are kept
in memory and written as JSONL when the run ends.

Spark counters come from the driver's status store: executor-summary
totals (tasks, busy time, GC, input and shuffle bytes), which survive the
store's job and stage retention limits, the scheduler's next job and
stage ids, and per-stage output and spill bytes read for the stage ids a
span covered. The benchmark drives one client, so spans never overlap
and jobs the engine submits from its own thread pools are still counted.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

EXECUTOR_FIELDS = {
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
    "task_busy_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


class SparkCounters:
    """Snapshots of the status-store totals of a local-mode driver."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def snapshot(self) -> dict[str, int]:
        ex = self._store.executorSummary("driver")
        snap = {k: int(getattr(ex, f)()) for k, f in EXECUTOR_FIELDS.items()}
        dag = self._jsc.dagScheduler()
        snap["jobs"] = int(dag.nextJobId())
        snap["stage_id"] = int(dag.nextStageId())
        return snap

    def stage_bytes(self, first_stage: int, end_stage: int) -> dict[str, int]:
        """Output and spill bytes over every attempt of stages [first, end)."""
        from py4j.protocol import Py4JJavaError

        out = {"output_bytes": 0, "spill_bytes": 0}
        for sid in range(first_stage, end_stage):
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
            except Py4JJavaError:  # never submitted, or evicted by retention
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                out["output_bytes"] += int(s.outputBytes())
                out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return out


def counter_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    d = {k: after[k] - before[k] for k in before if k != "stage_id"}
    d["stages"] = after["stage_id"] - before["stage_id"]
    return d


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    ``overhead_s`` accumulates the time spent on tracing's own
    bookkeeping (status-store and plan-tracker reads), so the run can
    report what tracing cost.
    """

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._trace_ids = itertools.count(1)

    @property
    def enabled(self) -> bool:
        return self.counters is not None

    def _snap(self) -> dict[str, int]:
        t = time.perf_counter()
        snap = self.counters.snapshot()
        self.overhead_s += time.perf_counter() - t
        return snap

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        """Record ``name`` around the body; yields the span dict (or None)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        trace_id = (
            next(self._trace_ids) if new_trace or parent is None else parent["trace_id"]
        )
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id,
            "name": name,
            **attrs,
        }
        before = self._snap()
        self._stack.append(sp)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            after = self._snap()
            sp["spark"] = counter_delta(before, after)
            if new_trace:
                t = time.perf_counter()
                sp["spark"].update(
                    self.counters.stage_bytes(before["stage_id"], after["stage_id"])
                )
                self.overhead_s += time.perf_counter() - t
            self.spans.append(sp)

    def child(self, parent: dict | None, name: str, start: float, end: float) -> None:
        """Add a span rebuilt after the fact (warehouse stages, plan phases)."""
        if parent is None:
            return
        self.spans.append(
            {
                "id": next(self._ids),
                "parent": parent["id"],
                "trace_id": parent["trace_id"],
                "name": name,
                "start": start,
                "end": end,
            }
        )

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(sp, sort_keys=True) + "\n")
