"""Spans around calls into engine layers, Spark status-store counters per
span, and host samples (CPU steal, peak RSS, JVM GC time).

Every span records its name, start, end, parent and run id and is kept in
memory. With tracing on, each span runs under its own Spark job group; when
it ends, the status store supplies the jobs, stages, tasks, executor run
time, JVM GC time, shuffle and spill of the jobs launched in that group.
With tracing off a span is two clock reads."""

from __future__ import annotations

import contextlib
import json
import os
import time

COUNTERS = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.spark = None  # the live session; None while none is running
        self.phase = "setup"
        self._group: list[str | None] = [None]
        self._steal: dict[str, list[int]] = {}  # label -> [steal, total] jiffies

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id, "phase": self.phase,
               "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(rec)
        group = f"{self.run_id}-{rec['id']}"
        if self.enabled and self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
            self._group.append(group)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            if self.enabled and self.spark is not None and self._group[-1] == group:
                self._group.pop()
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", self._group[-1])
                rec.update(self._counters(group))

    @contextlib.contextmanager
    def timed_region(self, label: str):
        """Adds the region's CPU steal and CPU time to ``label``'s totals."""
        t0, s0 = cpu_times()
        try:
            yield
        finally:
            t1, s1 = cpu_times()
            acc = self._steal.setdefault(label, [0, 0])
            acc[0] += s1 - s0
            acc[1] += t1 - t0

    def steal_share(self, label: str) -> float:
        steal, total = self._steal.get(label, (0, 0))
        return steal / total if total else 0.0

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids = set()
        for j in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = store.job(j).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, parent: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == parent["id"] and (name is None or s["name"] == name)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0, default=str)


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out
