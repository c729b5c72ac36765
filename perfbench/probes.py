"""Engine and process counters read around each benchmark operation.

- Spark jobs, stages and tasks come from ``SparkContext.statusTracker``:
  each operation runs under its own job group; jobs submitted from the
  package's driver thread pools carry no group, so the operation's jobs
  are its group's jobs plus the ungrouped jobs that appeared during it
  (one client, so nothing else submits jobs meanwhile).
- Task time, task CPU, GC, input and shuffle bytes, task and failure
  counts are sums over the operation's stages of the status store's
  per-stage data. The executor summary is not used: in this Spark build
  its ``totalDuration`` tracks the executor's busy wall time, not summed
  task time (eight 0.5 s sleeping tasks on four cores read 1.1 s).
- JVM peak RSS (``VmHWM``), bytes the JVM read (``rchar``) and
  Python-worker CPU come from ``/proc``: the JVM is this process's
  ``java`` child, and the Python workers are the JVM's Python
  descendants (the ``pyspark.daemon`` and its forks). ``rchar`` is
  there because Spark's own input-bytes counter stays near zero for
  these parquet scans (0.013 MB for a full 1.5 MB scan).
"""

from __future__ import annotations

import os
import resource

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
#: per-stage counters summed over an operation's stages:
#: (metric, StageData getter, scale to the metric's unit)
_STAGE_FIELDS = (
    ("task_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1e-6),
    ("shuffle_read_mb", "shuffleReadBytes", 1e-6),
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("failed_tasks", "numFailedTasks", 1),
    ("tasks", "numTasks", 1),
)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def jvm_pid() -> int | None:
    kids = _children()
    for p in _descendants(os.getpid(), kids):
        if _comm(p) == "java":
            return p
    return None


def pyworker_cpu_s(jvm: int | None) -> float:
    """User+system CPU of the JVM's Python descendants, reaped children
    included."""
    if jvm is None:
        return 0.0
    total = 0
    for p in _descendants(jvm, _children()):
        if not _comm(p).startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def read_mb(pid: int | None) -> float:
    """Bytes the process has read through read() calls (``rchar``)."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("rchar:"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm: int | None) -> float:
    """JVM ``VmHWM`` plus this Python process's ``ru_maxrss``. The
    benchmark's input generation and output checks run in a helper
    process, whose memory is not counted."""
    jvm_kb = 0
    if jvm is not None:
        try:
            with open(f"/proc/{jvm}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class EngineProbe:
    """Per-operation Spark counters (see module docstring)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jvm = jvm_pid()

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self, op: int) -> None:
        self.group = f"perfbench-op-{op}"
        self._drain()
        self.sc.setJobGroup(self.group, self.group)
        self._seen_ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self._py0 = pyworker_cpu_s(self.jvm)
        self._read0 = read_mb(self.jvm)

    def end(self) -> dict[str, float]:
        self._drain()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs = set(self.tracker.getJobIdsForGroup(self.group)) | (ungrouped - self._seen_ungrouped)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = self.sc._jsc.sc().statusStore()
        out = {f"spark.{k}": 0.0 for k, _, _ in _STAGE_FIELDS}
        ran = 0
        for sid in stages:
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if str(data.status()) in ("SKIPPED", "PENDING"):
                continue  # its output was reused: nothing ran
            ran += 1
            for key, getter, scale in _STAGE_FIELDS:
                out[f"spark.{key}"] += getattr(data, getter)() * scale
        out["spark.jobs"] = float(len(jobs))
        out["spark.stages"] = float(ran)
        out["pyworker.cpu_s"] = pyworker_cpu_s(self.jvm) - self._py0
        out["jvm.read_mb"] = read_mb(self.jvm) - self._read0
        return out
