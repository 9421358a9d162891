"""Spans with Spark job/task counts, and a /proc RSS sampler.

A span brackets one call into a layer's public function. While it is
open the benchmark sets a Spark job group of its own, so afterwards
``SparkContext.statusTracker()`` lists exactly the jobs (and through
them the stages and tasks) that call ran. Spans live in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes every span a plain timer."""

    def __init__(self, spark, enabled: bool = True) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._trace_id = uuid.uuid4().hex[:16]
        self.bookkeeping_s = 0.0  # time the tracer itself spent, outside spans
        self.failed_tasks = 0  # over every top-level span

    def new_trace(self) -> str:
        self._trace_id = uuid.uuid4().hex[:16]
        return self._trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        t_book = time.time()
        s = Span(name, self._trace_id, next(self._ids),
                 parent.span_id if parent else None, t_book, attrs=attrs)
        group = f"perfbench-{s.trace_id}-{s.span_id}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
            s.start = time.time()
            self.bookkeeping_s += s.start - t_book
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(
                        f"perfbench-{parent.trace_id}-{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._count(s, group)
                self.bookkeeping_s += time.time() - s.end
                if parent is not None:  # a parent's counts include its children
                    parent.jobs += s.jobs
                    parent.tasks += s.tasks
                    parent.failed_tasks += s.failed_tasks
                else:
                    self.failed_tasks += s.failed_tasks
            self.spans.append(s)

    def _count(self, s: Span, group: str, timeout: float = 5.0) -> None:
        """Jobs, completed and failed tasks of ``group``.

        Job-end events reach the status store asynchronously, so poll
        until every job of the group has finished.
        """
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout
        while True:
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs) \
                    or time.time() > deadline:
                break
            time.sleep(0.02)
        stages = {sid for j in jobs if j is not None for sid in j.stageIds}
        infos = [tracker.getStageInfo(sid) for sid in stages]
        s.jobs += len(jobs)
        s.tasks += sum(i.numCompletedTasks for i in infos if i is not None)
        s.failed_tasks += sum(i.numFailedTasks for i in infos if i is not None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=0)


# -- memory -------------------------------------------------------------------

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc.

    Of the JVM's children only the Python workers count: any other child
    is a short-lived process launch, and until it execs it shares (and
    reports) the JVM's pages, which would count the JVM twice.
    """
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        pid = int(entry)
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE_KB
        comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in rss:
            continue
        total += rss[pid]
        todo.extend(c for c in children.get(pid, [])
                    if comm[pid] != "java" or comm.get(c, "").startswith("python"))
    return total


class RssSampler:
    """Background thread sampling this process tree's RSS every ``period``.

    ``take_peak()`` returns the highest sum seen since the previous call,
    so a caller can read one peak per iteration.
    """

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            kb = _tree_rss_kb(pid)
            with self._lock:
                self._peak_kb = max(self._peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> float:
        """Peak MB since the last call (resets the peak to the current RSS)."""
        now = _tree_rss_kb(os.getpid())
        with self._lock:
            peak, self._peak_kb = max(self._peak_kb, now), now
        return peak / 1024.0
