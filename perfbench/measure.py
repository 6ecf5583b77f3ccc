"""Measurement helpers for the benchmark: spans, Spark status-store
counters scoped by job group, process-tree peak RSS, host context.

Everything here observes the engine from outside: it times calls into
``raptor_spark``'s public functions and reads Spark's own status store
(the ``_stage_totals`` pattern of ``tools/flagship_10x.py``, which works
with the UI disabled).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end. A disabled tracer records nothing, so untraced
    reps pay only a context-manager enter/exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, on: bool = True):
        if not (self.enabled and on):
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover.
        Children of one parent run one after another on this thread,
        so their durations do not overlap."""
        covered = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - covered[s["id"]]
            for s in self.spans
            if s["end"] is not None
        }

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, name: str) -> list[float]:
        st = self.self_times()
        return [st[s["id"]] for s in self.spans if s["name"] == name and s["id"] in st]

    def write(self, path: str, extra: dict) -> None:
        st = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [
            {**s, "start": s["start"] - t0,
             "end": (s["end"] - t0) if s["end"] is not None else None,
             "self_s": st.get(s["id"])}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": out}, f)


# ------------------------------------------------------- Spark counters

_GROUP = "spark.jobGroup.id"


class SparkCounters:
    """Per-job-group totals read from the AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._empty = self.sc._jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    @contextlib.contextmanager
    def group(self, name: str, on: bool = True):
        """Tag the jobs this thread starts; nested groups are named
        ``<outer>/<inner>`` so ``read(outer)`` covers them too."""
        if not on:
            yield
            return
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, prev)

    def read(self, name: str) -> dict:
        """Totals over the jobs of group ``name`` and its subgroups."""
        # the status store is fed asynchronously by the listener bus;
        # drain it so the group's last job is visible
        self._bus.waitUntilEmpty()
        stage_ids: set[int] = set()
        jobs = 0
        it = self._store.jobsList(self._empty).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isDefined() and (g.get() == name or g.get().startswith(name + "/")):
                jobs += 1
                sit = j.stageIds().iterator()
                while sit.hasNext():
                    stage_ids.add(int(sit.next()))
        tot = {"jobs": jobs, "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "gc_s": 0.0, "cpu_s": 0.0}
        it = self._store.stageList(
            self._empty, False, False, self._no_q, self._empty
        ).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            tot["stages"] += 1
            tot["tasks"] += s.numTasks()
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
        return tot


# --------------------------------------------------------- peak RSS

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
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_bytes(pids) -> int:
    """Sum of each process's own peak RSS (VmHWM): for the driver JVM
    and its Python workers, which the kernel tracks exactly."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass  # ended meanwhile
    return total


# ------------------------------------------------------- host context

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat
    reads (field 8 is steal; guest time is already inside user)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 else 0.0


def calib_s(reps: int = 3) -> float:
    """Median wall of a fixed pure-Python loop: a host-speed yardstick
    that no change to the engine can move."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        walls.append(time.perf_counter() - t0)
    return median(walls)


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
