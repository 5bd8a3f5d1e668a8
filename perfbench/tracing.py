"""Spans, Spark job attribution, process-tree memory and percentiles.

Spans are recorded by the benchmark around its own calls into the
engine; they stay in memory until the run ends.  In a traced run each
span also sets a Spark job group, and Spark's event log (switched on by
``run.py`` for traced runs only) is parsed after the session stops to
count jobs, tasks, shuffle bytes and GC time per span name.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (wall-clock start/end, parent) per thread.  With a
    SparkContext it tags each span's Spark jobs with the job group
    ``<name>#<sid>``, restoring the enclosing span's group on exit."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        gid = None if span is None else f"{span.name}#{span.sid}"
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(
            next(self._ids),
            name,
            time.time(),
            parent=stack[-1].sid if stack else None,
        )
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name]


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def median(values) -> float:
    return percentile(values, 50)


# ---------------------------------------------------------------- memory


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split between the
    processes sharing them, so a JVM's short-lived fork children (shell
    commands it runs) do not count its heap twice."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Memory of ``root`` and all its descendants (sum of PSS)."""
    children = defaultdict(list)
    for pid, ppid in _ppid_map().items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
    return total


class MemorySampler:
    """Samples the process tree's memory every ``period`` s on a daemon
    thread and keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(me))
            self._stop.wait(self.period)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(os.getpid()))
        return self.peak


# ------------------------------------------------------------- event log


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    gc_ms: int = 0


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse Spark's JSON event log: returns ``{job_id: (group, submit_s)}``
    and ``{job_id: JobStats}`` (tasks, shuffle bytes written, GC time)."""
    jobs: dict[int, tuple[str | None, float]] = {}
    stage_job: dict[int, int] = {}
    stats: dict[int, JobStats] = defaultdict(JobStats)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[jid] = (group, ev["Submission Time"] / 1000.0)
                    stats[jid].jobs = 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    st = stats[jid]
                    st.tasks += 1
                    tm = ev.get("Task Metrics") or {}
                    st.gc_ms += tm.get("JVM GC Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    return jobs, stats


def attribute_jobs(
    jobs: dict, stats: dict, groups: dict[str, str], windows: list[tuple[str, float, float]]
) -> dict[str, JobStats]:
    """Sum job stats per span name.  A job belongs to the span whose
    group it carries (``groups`` maps extra group ids, such as a
    streaming query's run id, to span names); a job without a group is
    given to the first span window its submission falls in — jobs that
    the engine submits from its own worker threads carry no group."""
    out: dict[str, JobStats] = defaultdict(JobStats)
    for jid, (group, submitted) in jobs.items():
        if group is not None:
            name = groups.get(group, group.split("#", 1)[0])
        else:
            name = next(
                (n for n, lo, hi in windows if lo <= submitted <= hi), None
            )
        if name is None:
            continue
        acc, st = out[name], stats[jid]
        acc.jobs += st.jobs
        acc.tasks += st.tasks
        acc.shuffle_bytes += st.shuffle_bytes
        acc.gc_ms += st.gc_ms
    return out
