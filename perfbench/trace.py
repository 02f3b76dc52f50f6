"""Tracing and accounting helpers, used only from the benchmark's own
files: a stopwatch that takes hypervisor steal out of wall time, spans
around calls into the program's layers, Spark job-group tagging, a
collector for the driver's monitoring REST API, a directory-walk byte
and file counter, and a ``/proc`` sampler for the process tree's CPU
time and memory.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the durations of its direct children
(children of one span never overlap: the client is a single closed
loop, so span windows only nest).
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


# --- host time -----------------------------------------------------------


def host_ticks() -> list[int]:
    """The host's CPU time counters from the first line of /proc/stat, in
    clock ticks: user, nice, system, idle, iowait, irq, softirq, steal,
    ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def net_of_steal(wall_s: float, before: list[int], after: list[int]) -> float:
    """``wall_s`` less the time the hypervisor stole from this host.

    On a shared virtual machine a vCPU that is ready to run may wait while
    the hypervisor runs other tenants; that wait is counted as steal. Of
    the vCPU time that was ready to run between two ``host_ticks``
    readings (busy + steal), only the busy part ran, so the interval
    scales by busy / (busy + steal): the time it would have taken had
    every ready vCPU run. This assumes the stolen time fell evenly over
    the interval. Without steal it returns ``wall_s`` unchanged."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]  # user nice system irq softirq
    steal = d[7]
    return wall_s * busy / (busy + steal) if busy + steal else wall_s


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all host CPU time between two readings that was stolen."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Stopwatch:
    """Times a ``with`` block: ``wall`` seconds, and ``net`` seconds with
    hypervisor steal taken out (``net_of_steal``)."""

    def __init__(self, clock=time.perf_counter, ticks=host_ticks):
        self.clock = clock
        self.ticks = ticks
        self.wall = self.net = 0.0

    def __enter__(self) -> "Stopwatch":
        self._ticks0 = self.ticks()
        self._t0 = self.clock()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = self.clock() - self._t0
        self.net = net_of_steal(self.wall, self._ticks0, self.ticks())


# --- spans ---------------------------------------------------------------
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    wall_start: float = 0.0  # time.time(), to place Spark jobs by submission time
    wall_end: float = 0.0
    counts: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. With ``enabled=False`` every call is a
    no-op, so the untraced run executes none of the tracing work.

    ``sc`` (a SparkContext) turns on job-group tagging: each span runs
    its Spark jobs under its own group and restores the parent's group
    on exit, so per-span job, task and byte counts can be read back.
    The group is a thread-local property: jobs the program submits from
    its own worker threads carry none, and are placed by their
    submission time instead (``aggregate_groups``).
    """

    def __init__(self, enabled: bool, sc=None, clock=time.perf_counter):
        self.enabled = enabled
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in tracer bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = self.clock()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"pb-{idx}"
        prev = None
        if self.sc is not None:
            prev = (self.sc.getLocalProperty(JOB_GROUP), self.sc.getLocalProperty(JOB_DESC))
            self.sc.setJobGroup(group, name)
        sp = Span(name=name, start=0.0, parent=parent, group=group)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        t1 = self.clock()
        self.overhead_s += t1 - t0
        sp.start = t1
        sp.wall_start = time.time()
        try:
            yield sp
        finally:
            sp.wall_end = time.time()
            sp.end = self.clock()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev[0])
                self.sc.setLocalProperty(JOB_DESC, prev[1])
            self.overhead_s += self.clock() - sp.end

    @contextmanager
    def bookkeeping(self):
        """Charge the enclosed work (e.g. a directory walk) to the
        tracer's own overhead."""
        t0 = self.clock()
        try:
            yield
        finally:
            self.overhead_s += self.clock() - t0

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def find(self, name: str, within: int | None = None) -> list[int]:
        pool = self.subtree(within) if within is not None else range(len(self.spans))
        return sorted(i for i in pool if self.spans[i].name == name)

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "dur_s": round(s.duration, 6),
                "self_s": round(self.self_time(i), 6),
                **s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


def wrap_method(tracer: Tracer, cls, method: str, span_name: str):
    """Replace ``cls.method`` with a version that runs inside a span and
    counts its calls; returns a callable that restores the original."""
    original = getattr(cls, method)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return original(*args, **kwargs)

    traced.__wrapped__ = original
    setattr(cls, method, traced)
    return lambda: setattr(cls, method, original)


# --- Spark monitoring ----------------------------------------------------


class SparkCollector:
    """Per-job-group Spark counts from the driver's monitoring REST API
    (stage metrics, SQL plan nodes) plus ``statusTracker`` (job ids per
    group). Read once when the run ends; the UI must retain every job
    and stage of the run (see isolation.spark_conf)."""

    def __init__(self, sc, fetch=None):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._fetch = fetch or self._http

    @staticmethod
    def _http(url: str):
        with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310 - localhost
            return json.load(resp)

    def per_group(self, spans: list[Span]) -> dict[str, dict]:
        groups = [s.group for s in spans]
        tracker = self.sc.statusTracker()
        job_groups = {}
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                job_groups[j] = g
        jobs = self._fetch(self.base + "/jobs")
        stages = self._fetch(self.base + "/stages")
        sql = self._fetch(self.base + "/sql?details=true&planDescription=false&length=100000")
        windows = [(s.wall_start, s.wall_end, s.group) for s in spans]
        return aggregate_groups(groups, job_groups, jobs, stages, sql, windows)


def rest_time(stamp: str) -> float:
    """Epoch seconds of a monitoring-API timestamp such as
    ``2026-10-17T07:14:38.123GMT``."""
    parsed = datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return parsed.replace(tzinfo=datetime.timezone.utc).timestamp()


def innermost(windows, t: float) -> str | None:
    """Group of the innermost window ``(start, end, group)`` holding
    ``t``. Windows only nest, so that is the one that started last."""
    best = None
    for start, end, group in windows:
        if start <= t <= end and (best is None or start >= best[0]):
            best = (start, group)
    return best[1] if best else None


def aggregate_groups(groups, job_groups, jobs, stages, sql, windows=()) -> dict[str, dict]:
    """Fold REST job/stage/SQL records into per-group totals. A job's
    group comes from ``job_groups`` (statusTracker), else from the job
    record's own ``jobGroup``, else, for a job submitted from a thread
    that carries no group, from the innermost span window ``(wall
    start, wall end, group)`` holding its ``submissionTime``."""
    out = {
        g: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "cpu_s": 0.0,
            "input_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "exchanges": 0,
        }
        for g in groups
    }
    stage_group = {}
    job_to_group = {}
    for j in jobs:
        g = job_groups.get(j["jobId"], j.get("jobGroup"))
        if g is None and j.get("submissionTime"):
            g = innermost(windows, rest_time(j["submissionTime"]))
        job_to_group[j["jobId"]] = g
        if g not in out:
            continue
        out[g]["jobs"] += 1
        for s in j.get("stageIds", []):
            stage_group[s] = g
    for s in stages:
        g = stage_group.get(s["stageId"])
        if g is None or s.get("status") == "SKIPPED":
            continue
        o = out[g]
        o["stages"] += 1
        o["tasks"] += s.get("numCompleteTasks", 0)
        o["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        o["input_bytes"] += s.get("inputBytes", 0)
        o["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        o["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    for e in sql:
        ids = list(e.get("successJobIds", [])) + list(e.get("failedJobIds", []))
        gs = {job_to_group.get(i) for i in ids} & out.keys()
        if len(gs) != 1:
            continue
        n = sum(1 for node in e.get("nodes", []) if "Exchange" in node.get("nodeName", ""))
        out[gs.pop()]["exchanges"] += n
    return out


# --- files ---------------------------------------------------------------


def snapshot(*roots: str) -> dict[str, tuple[int, int, int]]:
    """(size, mtime_ns, inode) of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files present after that were not present, or
    changed, before: what a span wrote and kept."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)


def data_files(snap: dict) -> dict:
    """Drop checksum and marker files (``.crc``, ``_SUCCESS``)."""
    return {
        p: v
        for p, v in snap.items()
        if not os.path.basename(p).startswith((".", "_"))
    }


# --- /proc ---------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds summed over ``pids``."""
    cpu = 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu += (int(fields[11]) + int(fields[12])) / _TICK  # utime, stime
    return cpu


def tree_pss(pids: list[int]) -> int:
    """Proportional set size in bytes summed over ``pids``: resident
    memory with each page shared between processes (the forked Python
    workers share most of theirs with their daemon) divided among
    them, so the sum counts every page once."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class ProcSampler:
    """Samples the memory of this process's descendants (the engine: the
    JVM and its Python workers) on a background thread and keeps the
    peak; reads the whole tree's CPU time on demand. The root process is
    left out of the memory: it holds the benchmark's own inputs and
    checkers. The thread only reads /proc; it sends no load to the
    program."""

    def __init__(self, interval_s: float = 0.5):
        self.pid = os.getpid()
        self.interval_s = interval_s
        self.peak_pss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def sample_memory(self) -> int:
        pss = tree_pss(process_tree(self.pid)[1:])  # descendants only
        with self._lock:
            self.peak_pss = max(self.peak_pss, pss)
        return pss

    def cpu_s(self) -> float:
        return tree_cpu_s(process_tree(self.pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample_memory()

    def __enter__(self) -> "ProcSampler":
        self.sample_memory()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample_memory()
