"""Measurement probes the benchmark attaches from outside the library.

* `ProcTree`: CPU-seconds and peak resident memory of the benchmark
  process and every descendant (Spark JVM, pyspark daemon, Python
  workers), read from ``/proc``.
* `CoreSpeed`: how fast the host let this machine's cores run over a
  stretch of the run, from the sampler in ``corespeed.py``.
* `SparkCounters`: jobs, stages, tasks and task metrics of a timed call,
  read from Spark's status store and attributed by job-id and stage-id
  range, so jobs submitted from library thread pools are counted too.
* `Tracer`: one span per layer call (name, start, end, parent), kept in
  memory and written out when the benchmark ends.
* `median` / `tail`: the summary statistics every timing is reported
  with.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


class ProcTree:
    """CPU-seconds and memory of this process and all its descendants.

    A process's CPU is utime + stime plus cutime + cstime, the CPU of its
    children that exited and were waited for. The pyspark daemon reaps
    every Python worker it forked, so the CPU of short-lived workers stays
    counted after they exit. Memory is each process's peak resident set
    (VmHWM), summed over the processes seen since `reset_peaks`."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._hwm_kb: dict[int, int] = {}
        #: descendants that are part of the benchmark, not the program
        self.exclude: set[int] = set()

    def _tree(self) -> dict[int, list[str]]:
        stats, children = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            stat = _read(f"/proc/{name}/stat")
            if not stat:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats and pid not in self.exclude:
                tree[pid] = stats[pid]
                todo += children.get(pid, [])
        return tree

    def pids(self) -> list[int]:
        return sorted(self._tree())

    def sample(self) -> dict[str, float]:
        """CPU-seconds so far by kind (driver, jvm, python_worker, total);
        also refreshes the per-process memory peaks."""
        cpu = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
        for pid, fields in self._tree().items():
            secs = sum(int(v) for v in fields[11:15]) / _CLK
            if pid == self.root:
                kind = "driver"
            elif (_read(f"/proc/{pid}/comm") or "").strip() == "java":
                kind = "jvm"
            else:
                kind = "python_worker"
            cpu[kind] += secs
            for line in (_read(f"/proc/{pid}/status") or "").splitlines():
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
                    self._hwm_kb[pid] = max(kb, self._hwm_kb.get(pid, 0))
        cpu["total"] = sum(cpu.values())
        return cpu

    def reset_peaks(self) -> None:
        """Forget processes seen so far (e.g. workers of a stopped
        SparkContext); live ones are picked up again by `sample`."""
        self._hwm_kb = {}
        self.sample()

    def peak_rss_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0


def host_steal_s() -> float:
    """CPU-seconds the hypervisor has given other guests while this
    machine's CPUs wanted to run (all CPUs, since boot). Steal inflates
    wall-clock figures but not CPU-seconds."""
    fields = (_read("/proc/stat") or "cpu 0 0 0 0 0 0 0 0").split("\n", 1)[0].split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def cpu_delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class CoreSpeed:
    """How fast the host let this machine's cores run, sampled beside the
    benchmark by ``corespeed.py`` (see there) from start to `stop`.

    `scale(t0, t1)` is `REF` over the mean CPU-seconds the sampler's
    work took between the perf_counter times t0 and t1: below 1 while
    the host ran the cores slow. A timing multiplied by it is the timing
    on cores that run that work in `REF`; the benchmark reports its
    end-to-end times so, because the same program measured minutes apart
    on the same machine reads up to 2x apart as measured."""

    #: CPU-seconds of the sampler's work on a core of a 4-core 2.0 GHz
    #: Xeon KVM guest that its host did not share (0.65-0.75 ms shared)
    REF = 0.5e-3

    def __init__(self, path: str):
        self.path = path
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "corespeed.py"), path]
        )

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait()

    def scale(self, t0: float, t1: float) -> float:
        if not hasattr(self, "_t"):
            data = np.loadtxt(self.path, ndmin=2)
            if not data.size:
                raise RuntimeError("the core-speed sampler recorded nothing")
            self._t, self._dt = data[:, 0], data[:, 2]
        inside = (self._t >= t0) & (self._t <= t1)
        return self.REF / float(self._dt[inside].mean() if inside.any() else self._dt.mean())


def _int(v) -> int:
    """py4j hands an AtomicInteger field back as a Java object or an int."""
    return int(v) if isinstance(v, int) else int(v.get())


#: task-metric sums `SparkCounters.since` reports
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "result_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Per-call Spark work from the status store.

    `mark()` reads the DAG scheduler's next job id and next stage id;
    `since(mark)` sums over every job and stage created after it. This
    attributes by id range rather than by job group, so jobs that a call
    submits from its own threads (which do not inherit the caller's job
    group) are still charged to it. Calls must not overlap, which the
    closed-loop driver guarantees."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def mark(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return _int(dag.nextJobId()), _int(dag.nextStageId())

    def since(self, start: tuple[int, int], end: tuple[int, int] | None = None) -> dict:
        end = end or self.mark()
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        out["jobs"] = end[0] - start[0]
        for sid in range(start[1], end[1]):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) or evicted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["result_bytes"] += st.resultSize()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """Spans around layer calls: name, start, end, parent and the pass
    (request) they belong to, plus any counters attached on exit. When
    disabled, `span` yields None and records nothing."""

    def __init__(self):
        self.enabled = False
        self.pass_id = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        #: seconds spent in tracing calls (`charge`) so far
        self.cost = 0.0

    def charge(self, fn, *args):
        """Call `fn` and count its time as tracing cost."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.cost += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def median(values) -> float:
    values = list(values)
    return float(np.median(values)) if values else 0.0


#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, sample count): the highest percentile of the
    ladder with at least ten samples beyond it. With fewer than 20
    samples none qualifies, and the maximum (percentile 100) is
    reported instead."""
    values = list(values)
    n = len(values)
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= 10:
            return p, float(np.percentile(values, p)), n
    return 100.0, float(max(values)) if values else 0.0, n
