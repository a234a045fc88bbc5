"""Measurement helpers: in-memory spans, Spark's own counters scoped by job
group, and process-tree resident memory read from ``/proc``."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans kept in memory: name, start, end, parent span and request id.
    :meth:`write` saves them once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its direct
        children cover (children run one after another, never overlapping)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def engine_counters(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time and shuffle bytes of every
    job run under ``group`` (``SparkContext.setJobGroup``), read from
    Spark's status store.  Stages are found through the group's jobs, never
    through a stage-id watermark, so the counts repeat exactly; skipped
    stages (reused shuffle output) are not counted."""
    # The status store is fed asynchronously by the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = single = run_ms = shuffle_bytes = 0
    for s in stage_ids:
        try:
            data = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted from the store or never submitted
            continue
        if data.numCompleteTasks() == 0:
            continue
        stages += 1
        tasks += data.numTasks()
        single += data.numTasks() == 1
        run_ms += data.executorRunTime()
        shuffle_bytes += data.shuffleWriteBytes()
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": tasks,
        "single_task_stages": single,
        "executor_run_s": run_ms / 1000.0,
        "shuffle_write_bytes": shuffle_bytes,
    }


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, read from ``/proc``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [pid for pid, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the JVM and the
    Python workers it forks)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
