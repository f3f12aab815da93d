"""Spans, Spark job attribution, process-tree memory and host calibration.

Everything here observes the program from outside: a span times one call
into a public function, and the Spark jobs that call starts are attributed to
it through the job group the span sets on the calling thread. Per-stage task
time, CPU time, shuffle, spill and task spread come from Spark's monitoring
REST API, which exists only when the UI is on, so only the traced run turns
it on.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; each span tags the Spark jobs it starts with
    its own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(id=len(self.spans), name=name, start=0.0, parent=parent)
        s.group = f"{name}#{s.id}"
        self.spark.sparkContext.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            up = self._stack[-1].group if self._stack else ""
            self.spark.sparkContext.setJobGroup(up, up)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.named(name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end, "group": s.group,
                     "counts": s.counts}
                    for s in self.spans
                ],
                f,
            )


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------------------------
# Spark monitoring REST API
# --------------------------------------------------------------------------

@dataclass
class GroupStats:
    """What the jobs of one job group cost, summed over completed stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_s: list = field(default_factory=list)


class RestHarvester:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def wait_idle(self, timeout_s: float = 30.0) -> None:
        """The status store lags the listener bus: wait until no job runs
        and the job count has stopped changing."""
        deadline = time.time() + timeout_s
        last = -1
        while time.time() < deadline:
            jobs = self._get("/jobs")
            busy = any(j["status"] == "RUNNING" for j in jobs)
            if not busy and len(jobs) == last:
                return
            last = len(jobs)
            time.sleep(0.5)

    def harvest(self, groups: set[str]) -> dict[str, GroupStats]:
        self.wait_idle()
        stats = {g: GroupStats() for g in groups}
        stage_group: dict[int, str] = {}
        for j in self._get("/jobs"):
            g = j.get("jobGroup")
            if g in stats:
                stats[g].jobs += 1
                for sid in j["stageIds"]:
                    stage_group[sid] = g
        for st in self._get("/stages?status=complete"):
            g = stage_group.get(st["stageId"])
            if g is None:
                continue
            s = stats[g]
            s.stages += 1
            s.tasks += st["numCompleteTasks"]
            s.task_cpu_s += st["executorCpuTime"] / 1e9
            s.shuffle_bytes += st["shuffleWriteBytes"]
            s.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            tasks = self._get(
                f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=1000000"
            )
            s.task_s.extend(t["taskMetrics"]["executorRunTime"] / 1000.0 for t in tasks
                            if "taskMetrics" in t)
        return stats


# --------------------------------------------------------------------------
# Process-tree resident memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/statm") as f:
                rss[int(entry)] = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Summed RSS of this process and all its descendants (the JVM and
    Spark's Python workers), sampled on a background thread, less ``base``,
    this process's RSS on entry (the benchmark's own inputs and imports)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.base = 0
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.samples.append((time.perf_counter(), _tree_rss_bytes(os.getpid()) - self.base))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def peak(self) -> int:
        return max(v for _, v in self.samples)

    def median_since(self, t0: float) -> float:
        return median(v for t, v in self.samples if t >= t0)

    def __enter__(self) -> RssSampler:
        self.base = _tree_rss_bytes(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_cal_s(iterations: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread loop: a drift diagnostic recorded
    beside each run. It never rescales a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iterations):
        x += i * i % 7
    return time.perf_counter() - t0
