"""Spans, Spark job/task counters and process-tree memory for the benchmark.

Spans are recorded from the benchmark's side only: ``Tracer.wrap`` replaces
a method on one object (an engine or its checkpoint) with a wrapper that
opens a span around each call. Nothing in ``crawler_spark`` is changed.

A span holds its index, name, start and end (monotonic seconds), the index
of the span that caused it, the id of the pass it belongs to, and the range
of Spark job ids submitted while it was open. Job ids come from the DAG
scheduler's own counter, which is exact: ``statusTracker().getJobIdsForGroup()`` reads the
asynchronous status store, keeps at most ``spark.ui.retainedJobs`` ids and
lags the scheduler.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# Local property that tags a Spark job with the benchmark span that wrote
# it; broadcast/subquery jobs inherit it through Spark's thread-local
# capture, so a write's helper jobs are attributed with it.
JOB_TAG = "spark.job.description"


class SparkCounters:
    """Exact job ids and per-job task counts of one SparkContext."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def jobs(self, first: int, end: int) -> list[tuple[int, str | None, int]]:
        """(job id, description, completed tasks) for ids in [first, end).
        Waits for the listener bus so the status store holds every job."""
        if end <= first:
            return []
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        out = []
        for jid in range(first, end):
            j = store.job(jid)
            desc = j.description()  # scala.Option[String]
            out.append((jid, desc.get() if desc.isDefined() else None,
                        int(j.numCompletedTasks())))
        return out


class Tracer:
    """In-memory span recorder. ``spans`` is written only by ``dump``."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self.pass_id = 0
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A span opened on a worker thread (the engine and the checkpoint
        # fan work out to thread pools) belongs to whatever the main
        # thread has open at the time.
        parent = (stack[-1] if stack
                  else self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "parent": parent, "pass": self.pass_id,
               "thread": threading.current_thread().name,
               "job0": self.counters.next_job_id(),
               "start": time.monotonic()}
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["job1"] = self.counters.next_job_id()
            stack.pop()

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (on this instance only) by a spanned call."""
        fn = getattr(obj, method)

        def spanned(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        setattr(obj, method, spanned)

    def pass_spans(self, pass_id: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part of it that its child
        spans cover (children may overlap: they run on thread pools)."""
        s = self.spans[idx]
        iv = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans if c["parent"] == idx and "end" in c
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextmanager
def tag_parquet_writes(sc, tag_for_path):
    """While open, every ``DataFrameWriter.parquet`` call tags the jobs it
    submits with ``tag_for_path(path)`` (None leaves them untagged)."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        tag = tag_for_path(str(path))
        if tag is None:
            return orig(self, path, *a, **k)
        sc.setLocalProperty(JOB_TAG, tag)
        try:
            return orig(self, path, *a, **k)
        finally:
            sc.setLocalProperty(JOB_TAG, None)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def tree_peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and all its
    descendants: the Python driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we walked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
