"""Measurement plumbing: spans, Spark's own counters, resident memory.

Nothing here reaches into the engine. Spans wrap the benchmark's calls
into the engine's public functions; the counters are read from outside
through Spark's public surfaces — the status tracker's job groups, the
local UI's REST API (stages: tasks, input and shuffle bytes), the
``QueryExecution`` planning tracker, and the driver
JVM's garbage-collector beans.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request

import numpy as np


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]; 0 when empty."""
    xs = list(xs)
    return float(np.percentile(xs, q)) if xs else 0.0


def median(xs) -> float:
    return percentile(xs, 50)


class Tracer:
    """In-memory span recorder; a no-op when disabled. Each span keeps
    its name (``<layer>.<call>``), start, end, parent and request id;
    :meth:`dump` writes them out once the run is over."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent recording spans

    @contextlib.contextmanager
    def span(self, name: str, request=None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time of its child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job-group-scoped Spark counters read through the local UI's REST
    API once the listener bus has caught up."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs_by_group(self, settle_s: float = 10.0) -> dict[str, list[dict]]:
        """Job records keyed by job group, after every job has left the
        RUNNING state in the UI's view."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out: dict[str, list[dict]] = {}
        for j in jobs:
            out.setdefault(j.get("jobGroup") or "", []).append(j)
        return out

    def stage_totals(self, jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
        """Completed-stage totals over a set of jobs (skipped stages —
        reused shuffle output — are not counted)."""
        ids = {sid for j in jobs for sid in j["stageIds"]}
        done = [stages[i] for i in ids if i in stages]
        return {
            "stages": len(done),
            "tasks": sum(s["numCompleteTasks"] for s in done),
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in done),
            "input_bytes": sum(s["inputBytes"] for s in done),
        }

    def completed_stages(self) -> dict[int, dict]:
        return {
            s["stageId"]: s
            for s in self._get("/stages?status=complete")
        }

    def gc_ms(self) -> float:
        """Cumulative collection time of the driver JVM (which hosts
        every executor thread in local mode)."""
        mf = self.jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    @staticmethod
    def optimization_ms(df) -> float:
        """Plan ``df`` and read the optimizer phase from its
        ``QueryExecution`` tracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phase = qe.tracker().phases().get("optimization")
        return float(phase.get().durationMs()) if phase.isDefined() else 0.0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def proc_stats() -> dict[int, tuple[int, int, int]]:
    """``pid -> (ppid, vsize bytes, resident pages)`` of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int, stats=None) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (stats or proc_stats()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process tree (the Python driver,
    the JVM it launched, and the JVM's Python workers), sampled on a
    background thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        stats = proc_stats()
        pages = 0
        for pid in descendants(os.getpid(), stats):
            ppid, vsize, rss = stats.get(pid, (0, 0, 0))
            # a child caught between fork/spawn and exec still maps its
            # parent's memory (the JVM spawns helpers): count it once
            if stats.get(ppid, (0, -1, -1))[1:] == (vsize, rss):
                continue
            pages += rss
        self.peak_kb = max(self.peak_kb, pages * _PAGE_KB)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0
