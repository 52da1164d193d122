"""Tracing for the benchmark's traced runs: spans taken around the calls
into the engine's public functions, Spark's own counters read from the
in-process status store, py4j round trips, and streaming progress.

Nothing here changes the engine. :class:`Tracer` wraps module attributes
while it is installed and puts the originals back on :meth:`Tracer.close`;
spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""


class SparkCounters:
    """Spark job/stage/task counters for a window of stage ids, read from
    the status store (available with the UI disabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._gateway = self._sc._gateway
        self.next_job = self._scan_jobs(0)
        self.next_stage = self._scan_stages(0)[0]

    def _scan_jobs(self, start: int) -> int:
        """First job id at or after ``start`` that does not exist yet (job
        ids are dense)."""
        tracker = self._sc._jsc.statusTracker()
        jid = start
        while tracker.getJobInfo(jid) is not None:
            jid += 1
        return jid

    def _scan_stages(self, start: int) -> tuple[int, list]:
        """Stage attempts from ``start`` on, and the id after the last."""
        new_list = self._gateway.jvm.java.util.ArrayList
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        sid, misses, found = start, 0, []
        while misses < 4:
            attempts = self._store.stageData(sid + misses, False, new_list(), False,
                                             no_quantiles)
            n = attempts.size()
            if n == 0:  # no such stage id (yet)
                misses += 1
                continue
            found.extend(attempts.apply(i) for i in range(n))
            sid, misses = sid + misses + 1, 0
        return sid, found

    def _skew(self, stage) -> float:
        """max / median task run time of one stage."""
        q = self._gateway.new_array(self._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if dist.isEmpty():
            return 1.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def take(self) -> dict:
        """Counters of every job and stage since the previous call."""
        jobs_end = self._scan_jobs(self.next_job)
        stages_end, stages = self._scan_stages(self.next_stage)
        out = {
            "jobs": jobs_end - self.next_job,
            "stages": len(stages),
            "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "input_bytes": 0, "output_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "longest_stage_s": 0.0, "task_skew": 1.0,
        }
        longest = None
        for st in stages:
            run_s = st.executorRunTime() / 1e3
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run_s > out["longest_stage_s"]:
                out["longest_stage_s"], longest = run_s, st
        if longest is not None:
            out["task_skew"] = self._skew(longest)
        self.next_job, self.next_stage = jobs_end, stages_end
        return out


class Py4jCounter:
    """Counts py4j round trips made by the calling thread by wrapping the
    gateway client's ``send_command``."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._thread = threading.get_ident()
        self.calls = 0

        @functools.wraps(self._orig)
        def counting(*args, **kwargs):
            if threading.get_ident() == self._thread:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        del self._client.send_command  # back to the class method


def streaming_listener(spark):
    """Register a listener that keeps every micro-batch's progress; returns
    (listener, list of (batchId, numInputRows, durationMs))."""
    from pyspark.sql.streaming import StreamingQueryListener

    batches: list = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            batches.append((p.batchId, p.numInputRows, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, batches


class Tracer:
    """Spans around public-function calls, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._restore: list = []

    @contextmanager
    def span(self, name: str, layer: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._open.setdefault(tid, [])
            # A call made on a worker thread (run_stage's stage thread, the
            # transform pool) belongs to the innermost span of the thread
            # that submitted it: the main thread.
            parent_stack = stack or self._open.get(self._main, [])
            parent = parent_stack[-1].span_id if parent_stack else None
            s = Span(len(self.spans), name, layer, time.perf_counter(),
                     parent=parent, run_id=self.run_id)
            self.spans.append(s)
            stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                stack.remove(s)

    def wrap(self, module, attr: str, layer: str, name_of=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs) if name_of else f"{layer}.{attr}"
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, orig))

    def close(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per
        layer (children that overlap each other are merged first)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
