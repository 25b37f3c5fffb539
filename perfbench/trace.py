"""Spans, Spark event-log folding and streaming progress for the traced run.

A span is a named wall-clock interval recorded around one call into a
layer.  While a span is open its name is the Spark job group, so every
job it submits is labelled.  Jobs submitted from threads Spark owns (the
micro-batch thread of a streaming query sets its own group) are matched
to the innermost span open at their submission time instead.

After the traced phase the SparkContext is stopped, which flushes the
uncompressed event log, and :meth:`Tracer.fold` reads it with the
stdlib ``json`` module only: per span it sums task run time, shuffle
bytes (read + written) and jobs, and counts the failed tasks of the
whole log.

GC time is not taken from the tasks: in local mode a task's ``JVM GC
Time`` is every collection the shared JVM made during the task, so
concurrent tasks each count the same pause.  A span's ``gc_s`` is
instead the growth of the JVM's total collection time
(``GarbageCollectorMXBean``) between the span's start and end, the
seconds the process lost to GC while the span was open.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    wall_s: float = 0.0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    jobs: int = 0


class Tracer:
    """Records spans in memory; :meth:`fold` attributes Spark work to them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _gc_ms(self) -> int:
        """Total collection time of the JVM so far, in milliseconds."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name=name, parent=parent, start=time.time())
        self._stack.append(sp)
        sc.setJobGroup(name, name)
        gc0 = self._gc_ms()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            sp.end = time.time()
            sp.gc_s = (self._gc_ms() - gc0) / 1000.0
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                sc.setJobGroup(parent, parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_time(self, name: str) -> float:
        """Wall time of span ``name`` not covered by its child spans."""
        total = sum(s.wall_s for s in self.spans if s.name == name)
        children = sum(s.wall_s for s in self.spans if s.parent == name)
        return max(0.0, total - children)

    def totals(self) -> dict[str, Span]:
        """Spans of one name merged (summed) into one record per name."""
        out: dict[str, Span] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, Span(s.name, s.parent, s.start))
            agg.wall_s += s.wall_s
            agg.task_s += s.task_s
            agg.gc_s += s.gc_s
            agg.shuffle_bytes += s.shuffle_bytes
            agg.jobs += s.jobs
        return out

    def fold(self, event_log_dir: str) -> int:
        """Attribute every job and task in the event log to a span.

        Returns the number of failed tasks in the whole log."""

        def owner(group: str | None, t_sec: float) -> Span | None:
            # the open span the job is labelled with, else the innermost
            # span open at its submission time
            cands = [s for s in self.spans if s.start <= t_sec <= s.end]
            labelled = [s for s in cands if s.name == group]
            if labelled:
                return labelled[0]
            return min(cands, key=lambda s: s.end - s.start, default=None)

        stage_owner: dict[int, Span] = {}
        failed = 0
        for ev in iter_events(event_log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sp = owner(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000.0)
                if sp is None:
                    continue
                sp.jobs += 1
                for st in ev.get("Stage IDs", []):
                    stage_owner.setdefault(st, sp)
            elif kind == "SparkListenerTaskEnd":
                ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
                failed += 0 if ok else 1
                sp = stage_owner.get(ev.get("Stage ID"))
                if sp is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sp.task_s += m.get("Executor Run Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                sp.shuffle_bytes += (
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
        return failed


def iter_events(event_log_dir: str):
    """Yield every event of every application log under ``event_log_dir``.

    Spark 4 writes a v2 *directory* per application
    (``eventlog_v2_<app>/events_<n>_<app>``); a v1 single file is read
    the same way.  Compressed logs are refused: they need codecs the
    stdlib does not have."""
    paths = sorted(glob.glob(os.path.join(event_log_dir, "eventlog_v2_*", "events_*")))
    paths += [
        p for p in sorted(glob.glob(os.path.join(event_log_dir, "*")))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    for p in paths:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log cannot be folded: {p}")
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def planning_seconds(df) -> float:
    """Sum of the Catalyst phase durations (analysis, optimization,
    planning) recorded by ``df``'s QueryPlanningTracker."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    total_ms = 0
    for name in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def progress_listener(spark):
    """Register and return a StreamingQueryListener that keeps every
    progress report's ``durationMs`` and every termination, by run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[tuple[str, dict]] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append((str(p.runId), dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.append(str(event.runId))

        def wait_terminated(self, n: int, timeout: float = 15.0) -> bool:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if len(self.terminated) >= n:
                        return True
                time.sleep(0.05)
            return False

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
