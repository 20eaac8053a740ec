"""Measurement from outside the program: process-tree CPU and memory
from ``/proc``, wall-clock spans around public calls, and Spark's own
per-job-group counters read from the application status store.

Spans and counters stay in memory; ``Tracer.dump`` writes them out once
at the end of a run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def process_tree() -> list[int]:
    """This process and every live descendant: the Python driver, the
    Spark JVM and its Python workers."""
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including children that
    have already exited and been reaped (``cutime``/``cstime``)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb_by_process() -> dict[str, float]:
    """Peak resident set (``VmHWM``) of each live process of the tree,
    keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = f"{pid}:{fields['Name'].strip()}"
            out[name] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    return sum(peak_rss_mb_by_process().values())


def per_op(blocks: list[list[dict]], key: str) -> dict[str, list[float]]:
    """``key`` of the successful timed runs of each op kind (op name)."""
    out: dict = {}
    for b in blocks:
        for r in b:
            if r["ok"]:
                out.setdefault(r["op"], []).append(r[key])
    return out


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far: time the
    hypervisor ran something else while this machine's CPUs waited."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# StageData getters summed per op; bytes and counts as Spark reports
# them (executorCpuTime is in nanoseconds).
_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "shuffleWriteBytes", "shuffleReadBytes",
    "memoryBytesSpilled", "diskBytesSpilled")


class Tracer:
    """Spans around the benchmark's calls into each layer, plus the
    Spark counters of the job group each op ran under.

    A disabled tracer still tags job groups (one call per op) but
    records nothing, so untraced runs pay no status-store reads."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._n = 0

    @contextmanager
    def op(self, workload: str, name: str):
        """One timed op: a fresh job group; on exit (traced) its jobs'
        and stages' counters are attached to the op record."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, f"{workload}:{name}", False)
        rec = {"op": name, "group": group, "spans": {}}
        self._op = rec
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._op = None
            if self.enabled:
                rec["spark"] = self._group_counters(group)
                rec["spark"]["cached_blocks_left"] = \
                    self.sc._jsc.getPersistentRDDs().size()
                self.ops.append(rec)

    @contextmanager
    def span(self, name: str):
        """A named span inside the current op (a no-op when disabled)."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            op = self._op
            self.spans.append({"name": name, "op": op and op["group"],
                               "start": t0, "end": t1})
            if op is not None:
                op["spans"][name] = op["spans"].get(name, 0.0) + \
                    (t1 - t0) * 1e3

    def _group_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus: drain it so the
        # op's last job and stages are visible
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = dict.fromkeys(("jobs", "stages") + _STAGE_FIELDS, 0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(),
                                  done.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() != "COMPLETE":
                    continue        # skipped: its output was reused
                out["stages"] += 1
                for f in _STAGE_FIELDS:
                    out[f] += getattr(st, f)()
        out["job_wall_ms"] = _union_ms(intervals)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)
