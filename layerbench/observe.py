"""Measurement from outside the engine: spans, Spark counters, host state.

Everything here observes the program through public surfaces only:
wall clocks around calls into the engine's modules, one Spark job group
per request and per span, the status store behind the UI's REST API
(reached through ``sc.uiWebUrl``), ``/proc`` for memory and CPU steal.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


# ---------------------------------------------------------------- spans

class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "group",
                 "probe", "wall_start", "wall_end", "children")

    def __init__(self, name, parent, request, group, probe):
        self.name, self.parent, self.request = name, parent, request
        self.group, self.probe = group, probe
        self.children: list[Span] = []
        self.start = self.end = 0.0
        self.wall_start = self.wall_end = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part its (sequential) children cover."""
        return self.duration - sum(c.duration for c in self.children)

    def as_dict(self, index: dict) -> dict:
        return {"id": index[id(self)], "name": self.name,
                "parent": index.get(id(self.parent)) if self.parent else None,
                "request": self.request, "group": self.group,
                "probe": self.probe, "start": self.start, "end": self.end,
                "self_s": self.self_time}


class Tracer:
    """Spans around layer calls, each with its own Spark job group.

    A disabled tracer still gives every request a job group (so Spark
    counters can be keyed per request) but records nothing else.
    Spans stay in memory until ``dump``.
    """

    def __init__(self, sc, enabled: bool, tag: str):
        self.sc, self.enabled, self.tag = sc, enabled, tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    def _group(self, name: str) -> str:
        self._seq += 1
        return f"{self.tag}-{self._seq}-{name}"

    @contextmanager
    def request(self, request_id: int):
        """Root of one request; its job group keys the request's jobs."""
        group = self._group(f"req{request_id}")
        self.sc.setJobGroup(group, f"request {request_id}")
        try:
            if self.enabled:
                with self._span("request", request_id, group, False) as sp:
                    yield sp
            else:
                yield None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, request_id: int | None = None,
             probe: bool = False):
        if not self.enabled:
            yield None
            return
        group = self._group(name)
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = parent.request
        self.sc.setJobGroup(group, name)
        try:
            with self._span(name, request_id, group, probe) as sp:
                yield sp
        finally:
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def _span(self, name, request_id, group, probe):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, request_id, group, probe)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.wall_start, sp.start = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.end, sp.wall_end = time.perf_counter(), time.time()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra,
                       "spans": [s.as_dict(index) for s in self.spans]},
                      f, indent=1)


# ------------------------------------------------------- spark counters

def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class SparkCounters:
    """Per-job-group counters read from Spark's status store.

    ``refresh`` drains the listener bus, then pulls the job and stage
    lists once through the UI REST API at ``sc.uiWebUrl``.
    """

    def __init__(self, sc):
        self.sc = sc
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.jobs_by_group: dict[str, list[dict]] = {}
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def refresh(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.jobs_by_group = {}
        for j in self._get("/jobs"):
            self.jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)
        self.stages = {}
        for s in self._get("/stages"):
            if s.get("status") != "COMPLETE":
                continue  # skipped stages did no work
            st = self.stages.setdefault(s["stageId"], {
                "tasks": 0, "run_ms": 0, "gc_ms": 0, "read": 0,
                "write": 0, "intervals": []})
            st["tasks"] += s.get("numCompleteTasks", 0)
            st["run_ms"] += s.get("executorRunTime", 0)
            st["gc_ms"] += s.get("jvmGcTime", 0)
            st["read"] += s.get("shuffleReadBytes", 0)
            st["write"] += s.get("shuffleWriteBytes", 0)
            a = _parse_ts(s.get("submissionTime"))
            b = _parse_ts(s.get("completionTime"))
            if a is not None and b is not None:
                st["intervals"].append((a, b))

    def for_groups(self, groups: list[str], wall_start: float,
                   wall_end: float, cores: int) -> dict:
        """Counters over every job of ``groups`` within one wall window."""
        jobs = [j for g in groups for j in self.jobs_by_group.get(g, [])]
        sids = {sid for j in jobs for sid in j.get("stageIds", [])}
        done = [self.stages[s] for s in sids if s in self.stages]
        wall = max(wall_end - wall_start, 1e-9)
        run_s = sum(s["run_ms"] for s in done) / 1e3
        covered = _union_len(
            [iv for s in done for iv in s["intervals"]],
            wall_start, wall_end)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(done),
            "spark.tasks": sum(s["tasks"] for s in done),
            "spark.shuffle_read_bytes": sum(s["read"] for s in done),
            "spark.shuffle_write_bytes": sum(s["write"] for s in done),
            "spark.task_run_s": run_s,
            "spark.gc_s": sum(s["gc_ms"] for s in done) / 1e3,
            "spark.slot_utilization": run_s / (wall * cores),
            "spark.no_stage_s": max(wall - covered, 0.0),
        }


def _union_len(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------- host state

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    total = sum(v)
    return total, total - v[3] - v[4] - v[7], v[7]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_cpu_jiffies(pid: int) -> int:
    """CPU time of ``pid`` and its live descendants, including children
    they have reaped (Python workers that already exited)."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total


class HostProbe:
    """Host state over a run. The run is flagged contended when
    processes outside this run's own tree used more than 10% of the
    machine, or the hypervisor stole more than 5% of it."""

    def __init__(self):
        self.cpus = cpus()
        self.load_start = loadavg()
        self._t0 = _cpu_times()
        self._own0 = tree_cpu_jiffies(os.getpid())

    def finish(self) -> dict:
        """Call while the run's processes are still alive."""
        total, busy, steal = _cpu_times()
        d_total = max(total - self._t0[0], 1)
        own = tree_cpu_jiffies(os.getpid()) - self._own0
        foreign = max(busy - self._t0[1] - own, 0) / d_total
        steal_share = (steal - self._t0[2]) / d_total
        return {"cpus": self.cpus, "loadavg_start": self.load_start,
                "loadavg_end": loadavg(), "steal_share": steal_share,
                "foreign_cpu_share": foreign,
                "contended": foreign > 0.10 or steal_share > 0.05}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
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


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and
    the Python workers it forks), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak_kb = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
