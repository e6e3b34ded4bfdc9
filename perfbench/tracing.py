"""Traced-run tooling: span wrappers, the event-log fold and the
micro-batch listener.

Spans are recorded from the benchmark's own files: ``Tracer.wrap``
replaces a public package function, at run time, with one that opens a
span named after it (and patches every package module that imported the
same function object by name). Spark jobs are attributed to the
innermost span open when the job was submitted; the workloads run one
operation at a time, so this holds for jobs started from foreachBatch
threads too. Task metrics come from the run's uncompressed, non-rolling
Spark event log and are folded per span by ``fold_event_log``.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "reddit_tech_jobs_data_pipeline_spark"

# per-span suffixes reported by the traced run
SPAN_FIELDS = (
    "self_s", "calls", "jobs", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "output_mb",
)
MB = 1024 * 1024


class Tracer:
    """In-memory span recorder. Spans are kept as
    ``(name, start_s, end_s, depth, is_call)`` with wall-clock epoch
    seconds, the clock Spark stamps its job submissions with."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, bool]] = []
        self.active = False  # spans are recorded only while active
        # time the tracing itself adds to traced passes: the result hooks
        # and span bookkeeping (the event log is written off the job path,
        # on Spark's listener thread)
        self.overhead_s = 0.0
        self._stack: list[str] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, call: bool = True):
        """Open span ``name``; ``call=False`` marks a continuation (the
        materialization of a lazy result the named call returned), which
        adds time and jobs to the span but not a call."""
        if not self.active:
            yield
            return
        t0 = time.perf_counter()
        start = time.time()
        with self._lock:
            depth = len(self._stack)
            self._stack.append(name)
            self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            end = time.time()
            with self._lock:
                self._stack.pop()
                self.spans.append((name, start, end, depth, call))
                self.overhead_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` (and every package module's imported
        alias of it) with a span-recording wrapper. While the tracer is
        active, ``on_result(result, args, kwargs)`` is called after the
        span closes."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if on_result is not None and tracer.active:
                t0 = time.perf_counter()
                on_result(result, args, kwargs)
                with tracer._lock:
                    tracer.overhead_s += time.perf_counter() - t0
            return result

        wrapper.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover, summed
        per name. Spans close innermost-first, so each span's children
        are the deeper spans inside its interval."""
        out: dict[str, float] = defaultdict(float)
        ordered = sorted(self.spans, key=lambda s: (s[1], s[3]))
        for i, (name, start, end, depth, _) in enumerate(ordered):
            child = 0.0
            for n2, s2, e2, d2, _ in ordered[i + 1:]:
                if s2 >= end:
                    break
                if d2 == depth + 1 and e2 <= end:
                    child += e2 - s2
            out[name] += (end - start) - child
        return out

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for name, _, _, _, call in self.spans:
            out[name] += int(call)
        return out

    def innermost(self, t_s: float) -> str | None:
        """Name of the deepest span open at epoch second ``t_s``."""
        best, best_depth = None, -1
        for name, start, end, depth, _ in self.spans:
            if start <= t_s <= end and depth > best_depth:
                best, best_depth = name, depth
        return best


def fold_event_log(path: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Fold a Spark JSON event log into per-span totals: jobs, tasks,
    executor run and GC seconds, shuffle-write / spill / output MB."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, str | None] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                span = tracer.innermost(ev["Submission Time"] / 1000.0)
                job_span[job] = span
                if span is not None:
                    totals[span]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    # a stage reused by a later job shows there as skipped;
                    # its tasks ran under the first job that listed it
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        span = job_span.get(stage_job.get(ev["Stage ID"]))
        m = ev.get("Task Metrics")
        if span is None or not m:
            continue
        t = totals[span]
        t["tasks"] += 1
        t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        t["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        t["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    return totals


class BatchListener(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` split (addBatch,
    walCommit, commitOffsets, queryPlanning, triggerExecution, ...)."""

    def __init__(self) -> None:
        super().__init__()
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self._lock:
                self.batches.append(dict(p.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Block until ``n`` batches have reported (progress events arrive
        asynchronously), then return and clear them."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.batches) >= n:
                    break
            time.sleep(0.01)
        with self._lock:
            out, self.batches = self.batches, []
        return out
