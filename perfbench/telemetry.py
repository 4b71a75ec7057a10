"""Measurement plumbing: spans, Spark event-log task metrics, /proc stats.

* :class:`Tracer` records spans (name, start, end, parent, run id) in
  memory. Entering a span sets a Spark job group named after it, so
  every job the span launches — AQE re-planned jobs included — carries
  the span's id in its event-log properties.
* :func:`read_event_log` folds the event log that the session writes
  (``spark.eventLog.enabled``) into per-job-group task metrics.
* :class:`ProcTree` samples the resident memory (PSS) of this process's
  descendants (driver JVM, PySpark daemon and workers) and reads the CPU
  they used; :func:`cpu_counters` / :func:`steal_pct` read hypervisor
  steal from ``/proc/stat``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    worker_cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans around calls into the program's layers."""

    def __init__(self, spark, run_id: str, procs: ProcTree):
        self._sc = spark.sparkContext
        self._procs = procs
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict = {}   # counted outside every span
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self.run_id}:{name}", parent.name if parent else None,
                  self.run_id, time.perf_counter())
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name)
        cpu0 = self._procs.cpu_s(workers_only=True)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.worker_cpu_s = self._procs.cpu_s(workers_only=True) - cpu0
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setJobGroup(f"{self.run_id}:idle", "idle")
            self.spans.append(sp)

    def self_time(self, sp: Span) -> float:
        return sp.wall_s - sum(c.wall_s for c in self.spans if c.parent == sp.name)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": round(s.start, 6), "end": round(s.end, 6), "counts": s.counts}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Spark event log


@dataclass
class GroupMetrics:
    """Task metrics summed over every job launched under one job group."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    # Dataset action of each SQL execution, e.g. "count", "localCheckpoint"
    actions: dict = field(default_factory=dict)
    # per stage: task durations in ms
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max/median task time of the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        durs = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """Job group id → :class:`GroupMetrics`, from the single uncompressed
    event log in ``log_dir`` (complete once the SparkContext stopped)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    sql_action: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                # details' first frame: "org.apache.spark.sql...Dataset.count(..."
                frame = (ev.get("details") or "").split("\n", 1)[0]
                sql_action[ev["executionId"]] = frame.split("(", 1)[0].rsplit(".", 1)[-1]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                g = out[group]
                g.jobs += 1
                sql_id = props.get("spark.sql.execution.id")
                if sql_id is not None:
                    g.actions[int(sql_id)] = sql_action.get(int(sql_id), "")
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                g = out[group]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.stage_tasks[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out


# --------------------------------------------------------------------------
# /proc


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the parenthesised command name may hold spaces
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _pss_mib(pid: int, st: list[str]) -> float:
    """Proportional resident memory of ``pid``: pages shared with other
    processes (the Python workers are forks of one daemon) are split
    among them instead of counted in each. Falls back to the RSS in
    ``st``, the fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    # stat field 24 (rss, pages) is index 21 after the command name
    return int(st[21]) * _PAGE / 2**20


class ProcTree:
    """This process's descendants, re-listed on every sample: the driver
    JVM (command ``java``) and the Python workers (the PySpark daemon and
    the workers it forks). The benchmark's own process is left out."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_rss = 0
        self.peak_parts: dict = {}   # the peak's split: jvm / workers
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _members(self) -> dict[int, tuple[str, list[str]]]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        members, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            children = [p for p, (_, f) in stats.items() if int(f[1]) == pid]
            members.update((p, stats[p]) for p in children)
            frontier.extend(children)
        return members

    def _sample_rss(self) -> None:
        parts = {"jvm_mib": 0.0, "workers_mib": 0.0, "workers": 0}
        for pid, (comm, st) in self._members().items():
            mib = _pss_mib(pid, st)
            if comm == "java":
                parts["jvm_mib"] += mib
            else:
                parts["workers_mib"] += mib
                parts["workers"] += 1
        total = int((parts["jvm_mib"] + parts["workers_mib"]) * 2**20)
        if total > self.peak_rss:
            self.peak_rss = total
            self.peak_parts = {k: round(v, 1) for k, v in parts.items()}

    def cpu_s(self, workers_only: bool = False) -> float:
        """CPU seconds of the driver JVM and the Python workers (the
        PySpark daemon and its workers, including workers that already
        exited: the daemon reaps them), or of the Python workers only.
        Time the hypervisor stole is not in it."""
        total = 0
        for comm, st in self._members().values():
            if not (workers_only and comm == "java"):
                # utime stime cutime cstime = indices 11..14
                total += sum(int(x) for x in st[11:15])
        return total / _CLK

    def _sample(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._sample_rss()

    def start_sampling(self, interval: float = 0.2) -> None:
        self.peak_rss = 0
        self._sample_rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, args=(interval,), daemon=True)
        self._thread.start()

    def stop_sampling(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample_rss()
        return self.peak_rss


def cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0
