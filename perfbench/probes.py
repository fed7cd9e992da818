"""Measurement probes: process CPU and memory from ``/proc``, in-memory
spans, and Spark event-log aggregation for the traced run."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str, children: bool) -> tuple[str, int, float] | None:
    """(name, ppid, CPU seconds) of a process or thread; ``children`` adds
    the CPU of reaped children (process-wide, so never for a thread)."""
    try:
        with open(f"{path}/stat") as f:
            s = f.read()
    except OSError:  # it exited between listing and reading
        return None
    rest = s[s.rindex(")") + 2 :].split()
    ticks = rest[11:15] if children else rest[11:13]
    return s[s.index("(") + 1 : s.rindex(")")], int(rest[1]), sum(int(x) for x in ticks) / _TICK


#: HotSpot's JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds of ``root`` and all its descendants (JVM + Python workers),
    and the part of it spent in the JVM's JIT compiler threads.

    A worker that exits is reaped by its parent inside the tree, so its
    CPU moves into the parent's children-time fields and stays counted.
    The total keeps the JIT's share: the two trade against each other
    (slower compilation leaves hot code running interpreted for longer),
    so the sum is steadier than the part outside the compiler."""
    procs = {}
    for path in glob.glob("/proc/[0-9]*"):
        st = _stat(path, children=True)
        if st is not None:
            procs[int(os.path.basename(path))] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][2]
        todo.extend(kids.get(pid, ()))
    jit = 0.0
    for path in glob.glob(f"/proc/{root}/task/[0-9]*"):
        st = _stat(path, children=False)
        if st is not None and st[0] in JIT_THREADS:
            jit += st[2]
    return total, jit


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Spans:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written as JSON when the run ends. Disabled, it records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.items: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """A span timed elsewhere, such as on a thread the stack does not see."""
        if self.enabled:
            self.items.append({"id": len(self.items), "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.items)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parent if parent is not None else (self._stack[-1] if self._stack else None),
               "run": self.run_id}
        self.items.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


class EventLog:
    """Per-job and per-task records parsed from an uncompressed Spark event log."""

    def __init__(self, log_dir: str, app_id: str):
        self.jobs: list[dict] = []  # submission time (s), job group, description
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>.
        parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", f"events_*_{app_id}"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not parts:
            raise RuntimeError(f"no event log for {app_id} in {log_dir}")
        for ev in _events(parts):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, len(self.jobs))
                self.jobs.append({"t": ev["Submission Time"] / 1000,
                                  "group": props.get("spark.jobGroup.id"),
                                  "desc": props.get("spark.job.description")})
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m, info = ev["Task Metrics"], ev["Task Info"]
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "stage": ev["Stage ID"],
                    "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "run_s": m["Executor Run Time"] / 1000,
                    "cpu_s": m["Executor CPU Time"] / 1e9,
                    "gc_s": m["JVM GC Time"] / 1000,
                    "shuffle_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / 2**20,
                })

    def window(self, start: float, end: float) -> dict:
        """Spark-level totals of the jobs submitted inside [start, end]."""
        jobs = {i for i, j in enumerate(self.jobs) if start <= j["t"] <= end}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        per_stage: dict[int, int] = {}
        for t in tasks:
            per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + 1
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "task_s": sum(t["run_s"] for t in tasks),
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "max_task_s": max((t["dur_s"] for t in tasks), default=0.0),
            "shuffle_mb": sum(t["shuffle_mb"] for t in tasks),
            "spill_mb": sum(t["spill_mb"] for t in tasks),
            "single_task_stages": sum(1 for n in per_stage.values() if n == 1),
        }
