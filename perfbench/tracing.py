"""Measurement helpers: process-tree RSS sampling, in-memory spans, and
the Spark event-log reader the traced run takes its task and SQL
metrics from.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, Spark counts come from the
status tracker and the event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    """Child pids of every process, by parent pid."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ")" are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n in each. Forked Python workers share most of
    their pages with the daemon they were forked from, so summing plain
    RSS would count those pages once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed PSS of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the JVM's Python workers)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            continue
    return total


class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_bytes``.

    One sample reads ``smaps_rollup`` of about a dozen processes, which
    takes ~25 ms on 4 cores and walks the JVM's page tables; sampling
    more often would take a noticeable share of a core from the run."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: str | None


@dataclass
class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, job: str | None = None):
        s = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, job)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- Spark event log ---------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class PhaseMetrics:
    """Task and SQL metrics of the Spark jobs run under one job group."""

    task_failures: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    py_sent_b: float = 0.0
    py_recv_b: float = 0.0
    sql_starts: list[float] = field(default_factory=list)


def event_log_file(log_dir: str, app_id: str) -> str:
    """The finished event log of application ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise RuntimeError(f"no finished event log for {app_id} in {log_dir}")
    return path


def read_event_log(path: str) -> dict[str, PhaseMetrics]:
    """Aggregate task/SQL metrics per job group (one group per job
    phase). Tasks count toward the group of the job that submitted their
    stage; SQL executions toward the group of their first job. Jobs run
    outside any group (e.g. a streaming query's own thread) land under
    the group ``""``."""
    groups: dict[str, PhaseMetrics] = defaultdict(PhaseMetrics)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                eid = props.get("spark.sql.execution.id")
                if eid is not None and int(eid) not in exec_group:
                    exec_group[int(eid)] = g
                    if int(eid) in exec_start:
                        groups[g].sql_starts.append(exec_start[int(eid)])
            elif kind.endswith("SQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = groups[stage_group.get(ev["Stage ID"], "")]
                if ev["Task End Reason"]["Reason"] != "Success":
                    m.task_failures += 1
                tm = ev.get("Task Metrics") or {}
                m.run_ms += tm.get("Executor Run Time", 0)
                m.gc_ms += tm.get("JVM GC Time", 0)
                m.shuffle_write_b += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                sr = tm.get("Shuffle Read Metrics", {})
                m.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                m.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_SENT:
                        m.py_sent_b += float(acc.get("Update", 0))
                    elif name == _PY_RECV:
                        m.py_recv_b += float(acc.get("Update", 0))
    return dict(groups)
