"""Spans around the benchmark's calls into the program, and the Spark
accounting attributed to them.

Each span sets its own Spark job group before the call, so every job
the call launches (from the calling thread, including the broadcast
and subquery jobs Spark starts on its behalf) carries the span's group.
On exit the span reads its jobs, stages and tasks from
``SparkContext.statusTracker``. Spans stay in memory; ``write`` dumps
them as JSON when the run ends. In a traced run the Spark event log is
also on, and ``event_log_totals`` sums its task metrics over the
measured spans' job groups. Every span, traced or not, takes wall and
CPU time (``CpuClock``); ``timing_metrics`` turns them into metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


_TICK = os.sysconf("SC_CLK_TCK")
# JVM just-in-time compiler threads ("C1 CompilerThread0", ...) as
# /proc truncates their names
_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _stat_fields(path: str) -> tuple[bytes, list[bytes]] | None:
    """(comm, fields after it) of a /proc stat file, None if gone."""
    try:
        with open(path, "rb") as fh:
            raw = fh.read()
    except OSError:  # exited while listing
        return None
    end = raw.rindex(b")")
    return raw[raw.index(b"(") + 1 : end], raw[end + 2 :].split()


class CpuClock:
    """CPU seconds (user + system) spent by this process and all its
    descendants, live or reaped: the benchmark, the Spark JVM and its
    Python workers. Unlike a wall clock it leaves out time other
    processes ran and time the hypervisor took from the VM (steal).

    ``read`` returns ``(work, jit)``: ``jit`` is the CPU time of the
    JVM's just-in-time compiler threads, which a process as short as a
    benchmark run spends mostly catching up on earlier work; ``work`` is
    the rest, less the CPU these reads themselves cost."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> last ticks seen
        self.own = 0.0

    def read(self) -> tuple[float, float]:
        t0 = time.process_time()
        procs: dict[int, tuple[int, bytes, int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (st := _stat_fields(f"/proc/{entry}/stat")):
                comm, f = st
                # state ppid ... utime stime cutime cstime
                procs[int(entry)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _comm, _ticks) in procs.items():
            children.setdefault(ppid, []).append(pid)
        ticks, stack = 0, [self.root]
        while stack:
            pid = stack.pop()
            if pid not in procs:
                continue
            ticks += procs[pid][2]
            stack.extend(children.get(pid, ()))
            if procs[pid][1] == b"java":
                self._read_jit(pid)
        jit = sum(self.jit.values()) / _TICK
        self.own += time.process_time() - t0
        return ticks / _TICK - jit - self.own, jit

    def _read_jit(self, pid: int) -> None:
        """Update the JIT threads' ticks; a thread that has exited keeps
        the last count seen (its time stays in the process total)."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0] in _JIT_THREADS:
                self.jit[(pid, int(tid))] = int(st[1][11]) + int(st[1][12])


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles``, inclusive
    method), also defined for a single value."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def timing_metrics(ops: dict[str, list[dict]]) -> tuple[dict, dict]:
    """End-to-end and per-layer timing metrics from the measured spans
    of every operation of a unit of work (key: the operation; value: its
    spans, one per execution).

    Only whole units count: each operation's first k executions, k
    the fewest any operation had, so that a unit cut short by the time
    limit does not weigh its operations unevenly. A unit's cost is the
    sum over its operations of each one's median. The end-to-end figure
    is CPU seconds (JIT compilation excluded, see ``CpuClock``);
    latency percentiles, wall-clock and JIT figures are per-layer."""
    k = min(len(recs) for recs in ops.values())
    ops = {op: recs[:k] for op, recs in ops.items()}

    def per_unit(field: str) -> float:
        return sum(statistics.median(r[field] for r in recs) for recs in ops.values())

    def samples(field: str) -> list[float]:
        return [r[field] for recs in ops.values() for r in recs]

    cpu, wall = samples("cpu"), samples("s")
    e2e = {"work_cpu_s": per_unit("cpu")}
    layer = {
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_p90_s": quantile(cpu, 0.9),
        "wall.work_s": per_unit("s"),
        "wall.op_p50_s": statistics.median(wall),
        "wall.op_p90_s": quantile(wall, 0.9),
        "jvm.jit_s": per_unit("jit"),
    }
    return e2e, layer


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only times
    (wall ``s``; CPU ``cpu`` and ``jit`` from ``clock``)."""

    def __init__(self, spark, enabled: bool, clock: CpuClock):
        self.sc = spark.sparkContext
        self.clock = clock
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, measured: bool = True):
        """Time the body; when tracing, also attribute its Spark jobs.
        ``measured=False`` marks set-up work, left out of the totals."""
        rec = {"name": name, "measured": measured}
        if self.enabled:
            self._seq += 1
            rec["group"] = f"perfbench-{os.getpid()}-{self._seq}"
            rec["parent"] = self._stack[-1] if self._stack else None
            self._stack.append(len(self.spans))
            self.spans.append(rec)
            self.sc.setJobGroup(rec["group"], name)
        cpu0, jit0 = self.clock.read()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            cpu1, jit1 = self.clock.read()
            rec["cpu"], rec["jit"] = cpu1 - cpu0, jit1 - jit0
            if self.enabled:
                self._stack.pop()
                self.sc.setJobGroup(
                    self.spans[self._stack[-1]]["group"] if self._stack else "",
                    "",
                )
                rec.update(self._jobs(rec["group"]))

    def _jobs(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def measured_groups(self) -> set[str]:
        return {s["group"] for s in self.spans if s["measured"] and "group" in s}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write an uncompressed event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Task-metric totals over the jobs whose group is in ``groups``.
    Read after the SparkContext has stopped, so the log is complete."""
    stage_group: dict[int, str] = {}
    totals = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_bytes": 0,
        "spill_bytes": 0,
    }
    stages_seen: set[int] = set()
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a partly flushed last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        totals["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in stage_group:
                        continue
                    if sid not in stages_seen:
                        stages_seen.add(sid)
                        totals["stages"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["tasks"] += 1
                    totals["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    totals["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    totals["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return totals
