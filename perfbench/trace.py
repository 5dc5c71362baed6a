"""Spans, host counters and Spark event-log attribution for the benchmark.

Spans are recorded only around the benchmark's own calls into the
engine's public functions; nothing inside the engine is instrumented.
Each span sets the Spark job description, so every job, stage and task
Spark runs inside it can be attributed to it from the event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps timing (the
    benchmark needs op wall times either way) but leaves the Spark job
    description alone and records nothing."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent.name if parent else None,
                 op=op if op is not None else (parent.op if parent else None))
        self._stack.append(s)
        if self.enabled:
            self.spark.sparkContext.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)
                self.spark.sparkContext.setJobDescription(parent.name if parent else None)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- host ------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings (field 8 of the ``cpu`` line)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb() -> float:
    """Resident memory of every process below this one: the Spark JVM
    and the Python workers it forks (the driver interpreter excluded)."""
    kids = _children()
    todo, total = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Peak of :func:`descendants_rss_mb`, sampled on a thread only
    inside :meth:`active`, so untimed checks stay out of the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.interval) and not self._stop.is_set():
                self.peak = max(self.peak, descendants_rss_mb())
                time.sleep(self.interval)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak = max(self.peak, descendants_rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join()


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# -- Spark event log ----------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Plain, single-file JSON event log (Spark 4 otherwise writes
    rolling zstd)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class SpanCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    bytes_read: int = 0
    bytes_written: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records_read: int = 0
    spill_bytes: int = 0
    # per stage: task durations (ms), for the straggler ratio
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)
    plans: list[str] = field(default_factory=list)

    def task_max_over_median(self) -> float:
        """max/median task time of the stage that ran longest in total
        (the window stage on featurize plans: where a hot key shows)."""
        if not self.stage_task_ms:
            return 0.0
        ms = max(self.stage_task_ms.values(), key=sum)
        return max(ms) / max(1.0, statistics.median(ms))

    def count_nodes(self, *names: str) -> int:
        """Physical operators named ``names`` in the final plans."""
        n = 0
        for plan in self.plans:
            # formatted explain: the operator tree, then one detail block
            # per node; under AQE only the final plan counts
            head = plan.split("\n\n", 1)[0]
            if "== Final Plan ==" in head:
                head = head.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
            n += count_plan_nodes(head, *names)
        return n


def count_plan_nodes(plan: str, *names: str) -> int:
    """Operators named ``names`` in a plan tree, as ``explain`` (either
    mode) or ``SparkPlan.toString`` prints it."""
    n = 0
    for line in plan.splitlines():
        m = re.match(r"[\s:|+\-*]*(?:\(\d+\)\s*)?([A-Za-z]+)", line)
        n += bool(m) and m.group(1) in names
    return n


def parse_eventlog(log_dir: str) -> dict[str, SpanCounters]:
    """Aggregate task metrics and final physical plans per job
    description (= span name)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    by_desc: dict[str, SpanCounters] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    exec_plan: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc is None:
                        continue
                    c = by_desc.setdefault(desc, SpanCounters())
                    c.jobs += 1
                    for st in ev.get("Stage Infos", []):
                        stage_desc[st["Stage ID"]] = desc
                elif kind == "SparkListenerStageCompleted":
                    desc = stage_desc.get(ev["Stage Info"]["Stage ID"])
                    if desc is not None and ev["Stage Info"].get("Number of Tasks"):
                        by_desc[desc].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    c = by_desc[desc]
                    c.tasks += 1
                    c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.bytes_read += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    c.bytes_written += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c.shuffle_records_read += m.get("Shuffle Read Metrics", {}).get(
                        "Total Records Read", 0
                    )
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    info = ev.get("Task Info", {})
                    c.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_desc[ev["executionId"]] = ev.get("description", "")
                    exec_plan[ev["executionId"]] = ev.get("physicalPlanDescription", "")
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    exec_plan[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    for eid, plan in exec_plan.items():
        desc = exec_desc.get(eid)
        if desc in by_desc:
            by_desc[desc].plans.append(plan)
    return by_desc
