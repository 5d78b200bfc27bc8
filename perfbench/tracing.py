"""In-memory spans and counters recorded from the benchmark's own code.

A :class:`Tracer` records a span (name, start, end, parent) around
each call the benchmark makes into a layer of ``football_etl_spark``.
Top-level spans can run under their own Spark job group, so the
jobs, stages and tasks each one caused are read back from
``SparkContext.statusTracker()``. :class:`StreamProgress` collects
per-micro-batch ``durationMs`` from a ``StreamingQueryListener``.
:class:`MemSampler` samples resident memory of the JVM and its Python
workers from ``/proc``.

A disabled tracer records nothing, so a span left in an untraced
round costs one attribute test.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming.listener import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.sc = None  # set once the session is up; job groups need it
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-{len(self.spans)}" if job_group else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """The span's duration minus the time its direct children
        cover (children run sequentially on one thread)."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def job_counts(self, groups: list[str]) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks run under the job groups
        ``groups`` (a span's ``group``, or a streaming query's run id,
        which Structured Streaming uses as its job group)."""
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += stage.numTasks
                    out["failed_tasks"] += stage.numFailedTasks
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "self": self.self_time(rec)}) + "\n")


class StreamProgress(StreamingQueryListener):
    """Collects each micro-batch's progress: batch id, input rows and
    ``durationMs`` (``triggerExecution``, ``addBatch``,
    ``queryPlanning``, ``walCommit``, ...)."""

    def __init__(self):
        self.batches: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        with self._cond:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cond:
            self.batches.append(
                {
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )
            self._cond.notify_all()

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def take(self, n_terminated: int, timeout: float = 30.0) -> list[dict]:
        """Wait until ``n_terminated`` queries have ended (events
        arrive asynchronously) and return the batches seen since the
        last call."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while self.terminated < n_terminated and time.monotonic() < deadline:
                self._cond.wait(deadline - time.monotonic())
            out, self.batches = self.batches, []
        return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class MemSampler:
    """Samples the resident memory of the JVM and of the Python worker
    processes under it every ``interval`` seconds on a daemon thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_total_kb = 0
        self.peak_jvm_kb = 0
        self.peak_workers_kb = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm = _rss_kb(self.jvm_pid)
        workers = descendants(self.jvm_pid)
        wkb = sum(_rss_kb(p) for p in workers)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_workers_kb = max(self.peak_workers_kb, wkb)
        self.peak_workers = max(self.peak_workers, len(workers))
        self.peak_total_kb = max(self.peak_total_kb, jvm + wkb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
