"""Spans and Spark counters for the traced benchmark run.

The program is not edited: :class:`Tracer` wraps the engine's public
layer functions from the benchmark's side (module or class
attributes, restored on :meth:`Tracer.restore`) and records one span
per call — name, start, end, parent span and operation id — in
memory. Spans are written out when the run ends.

:class:`SparkCounters` credits each traced operation with the Spark
jobs whose ids appeared during it, read from the application status
store (``sc._jsc.sc().statusStore()``, available with the UI off).
With one closed-loop client that attribution is exact, and it also
catches the jobs a streaming query runs on its own thread.
"""

from __future__ import annotations

import functools
import threading
import time


def now_ms() -> float:
    """Epoch milliseconds — the clock Spark stamps job times with."""
    return time.time() * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op: int | None = None
        self._client: list[int] = []  # the span stack of the client thread
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        # a span opened on a thread with nothing open (a streaming
        # foreachBatch callback) is caused by the call the client thread
        # is blocked in
        parent = stack[-1] if stack else (self._client[-1] if self._client else None)
        span = {"name": name, "start": now_ms(), "end": None,
                "parent": parent, "op": self.op}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = now_ms()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def begin_op(self, op_id: int, name: str) -> None:
        self.active = True
        self.op = op_id
        self._client = self._stack()
        self._root = self.open(name)

    def end_op(self) -> None:
        self.close(self._root)
        self.active = False
        self.op = None

    # ------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        original = vars(owner)[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            idx = self.open(name)
            try:
                return original(*args, **kwargs)
            finally:
                self.close(idx)

        self._patch(owner, attr, original, traced)

    def wrap_iter(self, owner, attr: str, name: str) -> None:
        """Record one span per ``next()`` of the iterator ``owner.attr``
        returns, so a lazily drained result is timed only while it
        produces, not while the client consumes."""
        original = vars(owner)[attr]

        def drain(it):
            while True:
                idx = self.open(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    self.close(idx)
                yield item

        @functools.wraps(original)
        def traced(*args, **kwargs):
            it = original(*args, **kwargs)
            return drain(it) if self.active else it

        self._patch(owner, attr, original, traced)

    def _patch(self, owner, attr, original, replacement) -> None:
        setattr(owner, attr, replacement)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


class SparkCounters:
    """Per-operation Spark job and stage counters from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next = 0

    def _settle(self) -> None:
        # job and stage events reach the store through the async
        # listener bus; drain it so no finished job is missed
        self._sc.listenerBus().waitUntilEmpty()

    def _newest_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> None:
        """Start crediting jobs to a new operation."""
        self._settle()
        self._next = self._newest_id() + 1

    def collect(self) -> list[dict]:
        """Jobs run since :meth:`mark`, each with its stage totals."""
        self._settle()
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < self._next:
                break
            rec = {"id": job.jobId(), "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                   "gc_ms": 0, "input_rows": 0, "shuffle_bytes": 0,
                   "spill_bytes": 0}
            sub, done = job.submissionTime(), job.completionTime()
            rec["start"] = sub.get().getTime() if sub.isDefined() else None
            rec["end"] = done.get().getTime() if done.isDefined() else None
            stages = job.stageIds()
            for s in range(stages.size()):
                st = self._store.lastStageAttempt(stages.apply(s))
                rec["tasks"] += st.numCompleteTasks()
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ms"] += st.executorCpuTime() / 1e6
                rec["gc_ms"] += st.jvmGcTime()
                rec["input_rows"] += st.inputRecords()
                rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.append(rec)
        self._next = max([self._next] + [r["id"] + 1 for r in out])
        return sorted(out, key=lambda r: r["id"])
