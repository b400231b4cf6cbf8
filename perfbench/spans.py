"""Spans, Spark job attribution and summary statistics.

The benchmark records a span around each of its own calls into an
engine layer: name, start, end, parent span and op id.  Spark work is
attributed to a span by job id: jobs are numbered in submission order
and the benchmark is the only client, so the jobs a call submitted are
the ids handed out between the call's start and end (this also covers
the micro-batch jobs a streaming query runs on its own thread).  The
span also sets a job group named after its op, so the jobs carry the
op id in Spark's own listings.  Task counts come from the status
tracker.  Spans stay in memory and are written out once, by ``dump``.

With tracing disabled every hook is a no-op, so untraced runs pay
nothing for it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """The ``q`` quantile, interpolated linearly between the two order
    statistics around rank ``q * (n - 1)``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the ``q`` percentile."""
    if not values:
        return 0
    cut = percentile(values, q)
    return sum(v > cut for v in values)


def median(values) -> float:
    """Median, or 0 for no samples (a layer the run never called)."""
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    """Mean, or 0 for no samples."""
    return sum(values) / len(values) if values else 0.0


class Tracer:
    """In-memory span recorder; ``enabled`` switches it per op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    # ------------------------------------------------------------ spark
    def _next_job_id(self) -> int:
        # py4j hands the scheduler's AtomicInteger counter back as an int
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def _job_stats(self, first: int, last: int) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) for job ids [first, last)."""
        tracker = self.spark.sparkContext.statusTracker()
        tasks = failed = 0
        for jid in range(first, last):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return last - first, tasks, failed

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` around the block; yields the span dict (or
        None when disabled) so callers can attach counts to it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if parent is not None:  # children belong to their root's op
            op = op or self.spans[parent]["op"]
            attrs.setdefault("phase", self.spans[parent].get("phase"))
        is_root = parent is None and op is not None
        if is_root:
            sc.setJobGroup(op, name)
        first = self._next_job_id()
        rec = {"name": name, "op": op, "parent": parent, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = self._job_stats(
                first, self._next_job_id()
            )
            if is_root:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def roots(self, phase: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] is None and (phase is None or s.get("phase") == phase)
        ]

    def children(self, parent: dict, name: str | None = None) -> list[dict]:
        idx = self.spans.index(parent)
        return [
            s for s in self.spans
            if s["parent"] == idx and (name is None or s["name"] == name)
        ]

    # ------------------------------------------------------------ session
    def jvm_gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def driver_rss_peak_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)
