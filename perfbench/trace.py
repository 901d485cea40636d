"""Spans, Spark event-log counters and the statistics the benchmark reports.

Spans are recorded by the benchmark around its own calls into the engine
(never inside the engine). Each span is kept in memory; after the run the
Spark event log is read back and every job is joined to the innermost span
that was open when the job was submitted, which gives the span its executor
CPU time, task counts, shuffle and spill bytes.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20


# ------------------------------------------------------------------ stats

def nearest_rank(values: list[float], q: float) -> float:
    """The q-quantile by nearest rank: the smallest sample with at least a
    share q of the samples at or below it. With 45 samples q=0.75 picks the
    34th, leaving 11 samples beyond it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    k = max(1, math.ceil(q * len(ordered)))
    return ordered[k - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # wall clock (time.time), the event log's clock
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans; with ``sc`` set, each span also becomes the
    Spark job group of the calling thread, so the event log names it."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self._sc.setLocalProperty(key, None)
        else:
            self._sc.setJobGroup(f"perfbench-{s.run_id}-{s.id}", s.name)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], self.children(sid))

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "run_id": s.run_id, "start": s.start, "end": s.end,
             "self_s": self.self_time(s.id),
             **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


class NullTracer:
    """Stand-in for untraced runs: spans cost one generator frame."""

    @contextmanager
    def span(self, name: str):
        yield None


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its children cover (the
    union of their intervals, clipped to the span)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children if c.end is not None
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


# -------------------------------------------------------------- event log

@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    records_written: int = 0
    task_skew: float = 0.0  # max/median task time of the busiest stage

    def add(self, other: "Counters") -> None:
        for f in ("jobs", "stages", "tasks", "failed_tasks", "cpu_s", "run_s",
                  "shuffle_write_bytes", "spill_bytes", "records_read",
                  "records_written"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.task_skew = max(self.task_skew, other.task_skew)


def read_event_log(path: str) -> tuple[dict, dict]:
    """Parse a Spark JSON event log into (jobs, stages).

    jobs:   job id -> {"submit": s, "group": str|None, "stages": [ids]}
    stages: stage id -> {"tasks": [task seconds], "failed": n, "cpu_s",
            "run_s", "shuffle_write", "spill", "read", "written"}
    Only the events the benchmark needs are kept.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], {
                    "tasks": [], "failed": 0, "cpu_s": 0.0, "run_s": 0.0,
                    "shuffle_write": 0, "spill": 0, "read": 0, "written": 0,
                })
                info = ev.get("Task Info") or {}
                if info.get("Failed"):
                    st["failed"] += 1
                st["tasks"].append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0)
                m = ev.get("Task Metrics") or {}
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
                st["read"] += (m.get("Input Metrics") or {}
                               ).get("Records Read", 0)
                st["written"] += (m.get("Output Metrics") or {}
                                  ).get("Records Written", 0)
    return jobs, stages


def assign_jobs(spans: list[Span], jobs: dict[int, dict]) -> dict[int, list[int]]:
    """span id -> the job ids it launched.

    A job tagged with one of this run's span job groups goes to that span.
    Jobs the engine launches from its own worker threads carry no group (or
    the engine's own label), so they go to the innermost span that was open
    at their submission time; the benchmark has a single client, so open
    spans always nest. Jobs outside every span are dropped.
    """
    by_group = {f"perfbench-{s.run_id}-{s.id}": s.id for s in spans}
    out: dict[int, list[int]] = {s.id: [] for s in spans}
    for jid, job in sorted(jobs.items()):
        sid = by_group.get(job["group"])
        if sid is None:
            best = None
            for s in spans:
                if s.end is not None and s.start <= job["submit"] <= s.end:
                    if best is None or s.start >= best.start:
                        best = s
            sid = best.id if best is not None else None
        if sid is not None:
            out[sid].append(jid)
    return out


def stage_counters(stage: dict) -> Counters:
    tasks = stage["tasks"]
    skew = 0.0
    if len(tasks) >= 2:
        med = statistics.median(tasks)
        skew = max(tasks) / med if med > 0 else 0.0
    return Counters(
        stages=1, tasks=len(tasks), failed_tasks=stage["failed"],
        cpu_s=stage["cpu_s"], run_s=stage["run_s"],
        shuffle_write_bytes=stage["shuffle_write"],
        spill_bytes=stage["spill"], records_read=stage["read"],
        records_written=stage["written"], task_skew=skew,
    )


def span_counters(spans: list[Span], jobs: dict,
                  stages: dict) -> dict[int, Counters]:
    """Counters per span from the jobs joined to it and to its
    descendants. ``task_skew`` is max/median task time of the span's
    stage with the most task time, the stage that sets its pace."""
    assigned = assign_jobs(spans, jobs)
    own: dict[int, Counters] = {}
    for s in spans:
        c = Counters()
        busiest = -1.0
        for jid in assigned[s.id]:
            c.jobs += 1
            for st_id in jobs[jid]["stages"]:
                if st_id not in stages:
                    continue  # skipped stage: its shuffle output was reused
                sc = stage_counters(stages[st_id])
                skew = sc.task_skew
                sc.task_skew = 0.0
                c.add(sc)
                if sc.run_s > busiest:
                    busiest, c.task_skew = sc.run_s, skew
        own[s.id] = c
    total = {sid: Counters() for sid in own}
    for s in sorted(spans, key=lambda s: -s.id):  # children before parents
        total[s.id].add(own[s.id])
        if s.parent is not None:
            total[s.parent].add(total[s.id])
    return total


def find_event_log(log_dir: str, app_id: str) -> str:
    """The finished, non-rolling event log of ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no finished event log {path}")
    return path


# ------------------------------------------------------------------- memory

def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended while listing
        # comm may hold spaces and parentheses: split after the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        pid, ppid = int(name), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


RSS_INTERVAL_S = 0.5


class PeakRss:
    """Samples the RSS of this process tree (Python driver, JVM, Python
    workers) every ``RSS_INTERVAL_S`` on a background thread while the
    timed phase runs."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB
