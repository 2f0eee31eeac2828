"""Spans, percentiles, process-tree RSS and Spark event-log metrics.

Spans are recorded by the benchmark around its calls into the program's
public functions; they stay in memory and are written out when the run ends.
Each span sets a Spark job group named after its id, so the traced run's
event log attributes every job, stage and task to the span that caused it.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """Metric and span names: ``[A-Za-z0-9_.-]+``, starting with a letter or
    digit, at most 64 characters."""
    return NAME_RE.fullmatch(name) is not None


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects nested spans. ``sc`` (a SparkContext) is optional: with it,
    each span's jobs run under the job group ``<run_id>:<span_id>``."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self.group_id(sid), name)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, start, end, self.run_id))
            if self.sc is not None:
                back = self.group_id(parent) if parent is not None else f"{self.run_id}:none"
                self.sc.setJobGroup(back, "")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def highest_supported_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile (50 to 99) that has at least ``beyond``
    of ``n`` samples strictly above its nearest-rank position, or None."""
    for p in range(99, 49, -1):
        if n - max(1, math.ceil(p / 100 * n)) >= beyond:
            return p
    return None


# -- process tree -----------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: the fields after it start
        # at the last ')'.
        out[int(entry)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for p, parent in ppid.items():
        kids.setdefault(parent, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver JVM
    and the Python workers under it) on a background thread while
    ``active`` is set; ``peak`` holds the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak = max(self.peak, rss_bytes(descendants(me)))


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (the ``steal`` column of /proc/stat), in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# -- Spark event log --------------------------------------------------------

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.task_skew", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_ms", "spark.spill_bytes", "spark.gc_ms",
)


def event_log_files(root: str) -> list[str]:
    """The event files under a Spark event-log directory, in write order:
    a plain log file, or the ``events_<n>_<app>`` parts of a rolling log."""
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith("events_"):
                found.append((int(f.split("_")[1]), os.path.join(d, f)))
            elif not f.startswith(("appstatus_", ".")):
                found.append((0, os.path.join(d, f)))
    return [p for _, p in sorted(found)]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def event_log_metrics(paths: list[str], groups: set[str]) -> dict[str, float]:
    """Totals over the jobs whose job group is in ``groups``, read from
    Spark event-log files (one JSON event per line). ``spark.task_skew`` is
    the max/median task duration of the traced stage with the longest wall
    time."""
    stage_group: dict[int, str] = {}
    jobs = 0
    tasks: dict[int, list[float]] = {}
    stage_wall: dict[int, float] = {}
    tot = dict.fromkeys(SPARK_METRICS, 0.0)
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            tot["spark.tasks"] += 1
            tot["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
            tot["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            tot["spark.gc_ms"] += m.get("JVM GC Time", 0)
            tot["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spark.shuffle_fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            sid = info.get("Stage ID")
            if sid in stage_group and "Completion Time" in info and "Submission Time" in info:
                stage_wall[sid] = info["Completion Time"] - info["Submission Time"]
    tot["spark.jobs"] = jobs
    tot["spark.stages"] = len(tasks)
    if stage_wall:
        slowest = max(stage_wall, key=stage_wall.get)
        durs = tasks.get(slowest) or [0]
        tot["spark.task_skew"] = max(durs) / max(median(durs), 1)
    return tot
