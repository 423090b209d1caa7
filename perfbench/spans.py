"""Spans around the engine's public calls and Spark counters per operation.

Every operation runs under its own Spark job group.  After it returns,
``SparkCounters.read`` waits for the listener bus to drain and reads the
group's jobs and stages from the in-process status store (works with the
UI disabled).  Job ids are read in both modes, so an untraced run yields
the same per-op job counts as a traced one.

``Tracer`` records spans (name, start, end, parent, op id) only when
tracing is on: ``wrap`` replaces a module or class attribute with a
timing wrapper, so the untraced run calls the engine unwrapped.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self.n = 0

    def begin(self, op: str) -> str:
        self.n += 1
        group = f"pb-{self.n}"
        self.sc.setJobGroup(group, op)
        return group

    def job_ids(self, group: str) -> list[int]:
        self.bus.waitUntilEmpty(60000)
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str, wall_s: float) -> dict:
        """jobs, stages, tasks, shuffle bytes, executor run/cpu, GC and the
        driver gap (wall time not covered by any job of the group)."""
        out = defaultdict(float)
        spans = []
        for jid in self.job_ids(group):
            jd = self.store.job(jid)
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            it = jd.stageIds().iterator()
            while it.hasNext():
                attempts = self.store.stageData(int(it.next()), False, None, False, self._no_quantiles)
                at = attempts.iterator()
                while at.hasNext():
                    sd = at.next()
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
        covered, end = 0.0, float("-inf")
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out["driver_gap_s"] = max(0.0, wall_s - covered)
        return dict(out)

    def cached_mb(self) -> float:
        total = 0
        it = self.store.rddList(True).iterator()
        while it.hasNext():
            r = it.next()
            total += r.memoryUsed() + r.diskUsed()
        return total / 2**20


class Tracer:
    """In-memory span recorder; ``enabled=False`` installs nothing."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0
        self.group = None
        self.overhead_s = 0.0  # time spent reading job ids inside spans

    def start_op(self, op_id: int, group: str) -> None:
        self.op_id, self.group = op_id, group

    def _jobs_now(self) -> int:
        if self.counters is None or self.group is None:
            return 0
        t0 = time.perf_counter()
        n = len(self.counters.job_ids(self.group))
        self.overhead_s += time.perf_counter() - t0
        return n

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(sid)
        j0 = self._jobs_now()
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._jobs_now() - j0
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)

    def self_times(self) -> dict[str, list[tuple[int, float]]]:
        """name -> [(op id, self time)]: duration minus child-covered time."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append((s["op"], s["end"] - s["start"] - child[s["id"]]))
        return out


def cpu_steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_tree_cpu_s(root_pid: int) -> float:
    """utime+stime (and reaped children) of this process, ``root_pid`` and
    every live descendant of ``root_pid`` (the JVM's Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    keep.add(os.getpid())
    return sum(stats[p][1] for p in keep if p in stats) / tick
