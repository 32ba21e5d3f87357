"""Measurement helpers: process-tree CPU and memory from ``/proc``,
call spans, and Spark event-log attribution of jobs to spans.

Times are epoch seconds on the host clock, which the JVM's event log
shares (its times are epoch milliseconds).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` including their reaped
    children.  Stolen time is not charged to a process, so it is not
    counted."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_cpu_s(root: int) -> float:
    return cpu_s(descendants(root))


def jvm_pid(root: int) -> int | None:
    """The driver JVM launched by PySpark under ``root``."""
    for pid in descendants(root):
        if pid != root and _comm(pid) == "java":
            return pid
    return None


def python_worker_cpu_s(jvm: int) -> float:
    """CPU of the Python worker daemon and its forked workers."""
    return cpu_s([p for p in descendants(jvm) if p != jvm and _comm(p).startswith("python")])


def vm_hwm_mb(pid: int) -> float:
    """Kernel peak-RSS high-water mark of ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Span:
    """One top-level call plus its terminal action."""

    name: str
    start: float
    end: float
    pass_no: int
    cpu_s: float = 0.0
    cached_left: int = 0
    gc_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    # per stage: summed task metrics in bytes
    stage_bytes: dict[int, dict[str, int]]


_TASK_BYTES = {
    "shuffle_write": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "input": ("Input Metrics", "Bytes Read"),
    "output": ("Output Metrics", "Bytes Written"),
}


def read_event_log(log_dir: str) -> EventLog:
    """Jobs and per-stage task byte totals from the plain-text event
    log(s) under ``log_dir`` (a file per application, or Spark's rolling
    directory layout)."""
    paths = []
    for f in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, f)
        if os.path.isdir(p):
            paths += [os.path.join(p, g) for g in sorted(os.listdir(p)) if g.startswith("events_")]
        else:
            paths.append(p)
    starts: dict[int, tuple[float, list[int]]] = {}
    jobs: list[Job] = []
    stage_bytes: dict[int, dict[str, int]] = {}
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut by a still-running writer
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = (ev["Submission Time"] / 1000, ev.get("Stage IDs", []))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    s, stages = starts.pop(ev["Job ID"])
                    jobs.append(Job(ev["Job ID"], s, ev["Completion Time"] / 1000, stages))
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    acc = stage_bytes.setdefault(ev["Stage ID"], {})
                    for key, (group, name) in _TASK_BYTES.items():
                        acc[key] = acc.get(key, 0) + (tm.get(group) or {}).get(name, 0)
                    acc["spill"] = acc.get("spill", 0) + tm.get("Disk Bytes Spilled", 0)
    return EventLog(sorted(jobs, key=lambda j: j.start), stage_bytes)


def attribute(spans: list[Span], log: EventLog) -> None:
    """Give each span the jobs submitted inside it, the time inside it
    during which no job ran (``driver_gap_s``) and its jobs' byte
    totals, stored in ``span.attrs``.  A stage listed by several jobs
    (a shuffle reused by a later job) ran in the first of them."""
    runs_in: dict[int, int] = {}
    for j in log.jobs:
        for s in j.stages:
            runs_in.setdefault(s, j.job_id)
    for sp in spans:
        mine = [j for j in log.jobs if sp.start <= j.start <= sp.end]
        sp.attrs["jobs"] = len(mine)
        sp.attrs["driver_gap_s"] = sp.wall_s - covered_s(
            [(j.start, j.end) for j in mine], sp.start, sp.end
        )
        stages = {s for j in mine for s in j.stages if runs_in[s] == j.job_id}
        for key in ("shuffle_write", "spill", "input", "output"):
            sp.attrs[f"{key}_mb"] = sum(
                log.stage_bytes.get(s, {}).get(key, 0) for s in stages
            ) / 2**20

