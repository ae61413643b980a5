"""Spark status-store collector: what the engine itself recorded.

Reads the driver's AppStatusStore (the data behind the Spark UI, kept
with the UI disabled) and the SQL status store. A `mark()` taken before
a measured window and a `delta(mark)` after it give the stage-metric
totals of exactly the stages, jobs and SQL executions that ran in
between. Everything here is read after the fact; nothing is recomputed.

py4j note: Scala default arguments do not exist over the wire, so
`stageList` is called with its full five-argument form.

`tree_cpu_s` and `cpu_ticks` read what the operating system recorded:
the CPU time of the benchmark's process tree, and the host's steal.
"""

from __future__ import annotations

import os
import re

_STAGE_FIELDS = {
    # metric name: (StageData getter, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}

# SQL metrics of the Python-eval plan nodes (ArrowEvalPython and kin)
_PY_SENT = "data sent to Python workers"
_PY_TIME = "time to run Python workers"

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1, "s": 1000, "min": 60000, "h": 3600000}


def _parse_total(text: str) -> float:
    """First figure of a formatted SQL metric ('total (min, med, max
    ...)\\n7.3 s (...)' or '4,262'), in bytes or milliseconds."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusCollector:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _stages(self):
        jvm = self._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        it = stages.iterator()
        while it.hasNext():
            yield it.next()

    def _jobs(self):
        it = self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def _executions(self):
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> dict:
        return {
            "stages": {(s.stageId(), s.attemptId()) for s in self._stages()},
            "job": max((j.jobId() for j in self._jobs()), default=-1),
            "execution": max((e.executionId() for e in self._executions()),
                             default=-1),
        }

    def job_intervals(self, since: dict) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of every job finished
        after `since` was taken."""
        out = []
        for j in self._jobs():
            if j.jobId() <= since["job"]:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                out.append((sub.get().getTime() / 1000.0,
                            end.get().getTime() / 1000.0))
        return out

    def python_eval(self, since: dict) -> tuple[float, float]:
        """(bytes sent to Python workers, seconds Python workers ran)
        summed over the Python-eval nodes of every SQL execution after
        `since`."""
        ctx = self._jvm.org.apache.spark.util.AccumulatorContext
        sent = ms = 0.0
        for e in self._executions():
            eid = e.executionId()
            if eid <= since["execution"]:
                continue
            formatted = None
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() not in (_PY_SENT, _PY_TIME):
                        continue
                    acc = ctx.get(m.accumulatorId())
                    if acc.isDefined():
                        v = float(acc.get().value())
                    else:  # accumulator collected: use the stored text
                        if formatted is None:
                            formatted = self._sql.executionMetrics(eid)
                        text = formatted.get(m.accumulatorId())
                        v = _parse_total(text.get()) if text.isDefined() \
                            else 0.0
                    if m.name() == _PY_SENT:
                        sent += v
                    else:
                        ms += v
        return sent, ms / 1000.0

    def shuffle_write_by_job_group(self, since: dict) -> dict[str, float]:
        """Shuffle bytes written by the stages of each job group's jobs
        finished after `since`."""
        group_of: dict[int, str] = {}
        for j in self._jobs():
            if j.jobId() <= since["job"] or not j.jobGroup().isDefined():
                continue
            stage_ids = j.stageIds().iterator()
            while stage_ids.hasNext():
                group_of[stage_ids.next()] = j.jobGroup().get()
        out: dict[str, float] = {}
        for s in self._stages():
            group = group_of.get(s.stageId())
            if group is not None:
                out[group] = out.get(group, 0.0) + s.shuffleWriteBytes()
        return out

    def delta(self, since: dict) -> dict:
        """Stage-metric totals, job count and Python-eval metrics of
        everything that ran after `since`."""
        out = {k: 0.0 for k in _STAGE_FIELDS}
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in since["stages"]:
                continue
            for name, (getter, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(s, getter)() * scale
            out["spill_bytes"] += s.memoryBytesSpilled()
        out["jobs"] = float(sum(1 for j in self._jobs()
                                if j.jobId() > since["job"]))
        out["python_bytes_sent"], out["python_exec_s"] = \
            self.python_eval(since)
        return out


def uncovered(window: tuple[float, float],
              intervals: list[tuple[float, float]]) -> float:
    """Seconds of `window` that no interval covers."""
    lo, hi = window
    covered = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered)


# -- what the operating system recorded --------------------------------------

def _ticks(stat: str) -> tuple[int, int, str]:
    """(parent pid, utime + stime + cutime + cstime, name) of a
    /proc/<pid>/stat or /proc/<pid>/task/<tid>/stat line."""
    name = stat[stat.index("(") + 1: stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(v) for v in fields[11:15]), name


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # exited while listed
        return None


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by process `root` (this
    one by default) and every live descendant (the Spark JVM, the
    Python worker daemon and its workers), each with the children it
    has reaped; and the part of it spent by the JVM's JIT compiler
    threads. Time the hypervisor gave to other guests (steal) is in
    neither."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _read(f"/proc/{entry}/stat")):
            pid = int(entry)
            ppid, ticks[pid], names[pid] = _ticks(stat)
            kids.setdefault(ppid, []).append(pid)
    total = jit = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
        if names.get(pid) != "java":
            continue
        task_dir = f"/proc/{pid}/task"
        for tid in os.listdir(task_dir) if os.path.isdir(task_dir) else ():
            stat = _read(f"{task_dir}/{tid}/stat")
            if stat:
                _, t, name = _ticks(stat)
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    jit += t
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's CPUs since boot, from
    /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
