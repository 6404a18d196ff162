"""Measurement plumbing: spans, Spark job counts, event-log totals, process RSS.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the library, job counts come from the public
``SparkContext.statusTracker()`` keyed by the job group the span sets, and
executor totals come from the Spark event log a traced run enables through
its launch conf.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


DRAIN_TIMEOUT_MS = 30_000
JOB_DONE = ("SUCCEEDED", "FAILED")


@dataclass
class Span:
    name: str
    spec: str
    execution: int
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    """Spans kept in memory; with ``enabled`` False a span only times.

    A span opened with ``count_jobs`` runs its Spark jobs under a job group
    of its own and records how many jobs, stages that ran and tasks that
    completed it caused. Job-counting spans do not nest."""

    sc: object
    enabled: bool
    execution: int = 0  # traced spec executions so far; spans carry it
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _n: int = 0

    @contextmanager
    def span(self, name: str, spec: str, count_jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, spec, self.execution, time.perf_counter(), parent=parent)
        group = None
        if self.enabled and count_jobs:
            self._n += 1
            group = f"specbench:{self._n}:{spec}:{name}"
            self.sc.setJobGroup(group, f"{spec}:{name}")
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
            if group is not None:
                self._count(sp, group)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _count(self, sp: Span, group: str) -> None:
        """Count once the status store has seen every event of the group.

        The store behind ``statusTracker()`` is filled by the asynchronous
        listener bus, so a count taken as soon as the action returns can
        miss the last jobs, stages and tasks. The bus is drained first
        (``LiveListenerBus.waitUntilEmpty``, Spark-internal, reached through
        the JVM gateway), then
        every job of the group is awaited until it reports a terminal
        status; Spark posts JobEnd after the job's TaskEnds and StageCompleted,
        so the stage figures are final by then."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        deadline = time.monotonic() + DRAIN_TIMEOUT_MS / 1000
        infos = [st.getJobInfo(jid) for jid in jobs]
        while any(i is None or i.status not in JOB_DONE for i in infos):
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {group} did not finish: {[i and i.status for i in infos]}")
            time.sleep(0.005)
            infos = [st.getJobInfo(jid) for jid in jobs]
        sp.jobs = len(jobs)
        for info in infos:
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += s.numCompletedTasks

    def call_sites(self) -> dict[tuple[str, str, int], list[Span]]:
        """Spans grouped by (spec, span name, occurrence within the spec
        execution): the same call in every traced execution of a spec."""
        sites: dict[tuple[str, str, int], list[Span]] = {}
        seen: dict[tuple[int, str], int] = {}
        for sp in self.spans:
            k = seen[(sp.execution, sp.name)] = seen.get((sp.execution, sp.name), -1) + 1
            sites.setdefault((sp.spec, sp.name, k), []).append(sp)
        return sites

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "spec": sp.spec, "execution": sp.execution,
                    "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "jobs": sp.jobs, "stages": sp.stages, "tasks": sp.tasks,
                }) + "\n")


EVENT_TOTALS = ("busy_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def event_log_totals(log_dir: str, group_prefix: str) -> dict[str, float]:
    """Sum task metrics over stages whose job group starts with ``group_prefix``."""
    totals = dict.fromkeys(EVENT_TOTALS, 0.0)
    stage_group: dict[int, str] = {}
    # Spark writes the log as one directory of rolled event files per app
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files)
    for path in [p for p in paths if not p.endswith(".crc") and "appstatus" not in os.path.basename(p)]:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerTaskEnd":
                    if not stage_group.get(ev["Stage ID"], "").startswith(group_prefix):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["busy_ms"] += m.get("Executor Run Time", 0)
                    totals["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    totals["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return totals


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the Python
    driver, the JVM and the Python workers) outside the JVM heap, sampled
    every ``interval`` s.

    ``heap_committed`` returns the bytes of heap the JVM has committed;
    they are resident (the heap is touched at start) and subtracted,
    because the heap's size is the launch setting, not the program's.
    Sampling starts once it is set, when the JVM is up."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.heap_committed = None
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.sample(me)
            self._stop_evt.wait(self.interval)

    def sample(self, me: int) -> None:
        if self.heap_committed is None:
            return
        try:
            heap = self.heap_committed()
        except Exception:  # the JVM is going away; keep earlier samples
            return
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total - heap)

    def stop(self) -> None:
        self._stop_evt.set()
        if self.is_alive():
            self.join(timeout=5)
