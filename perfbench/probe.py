"""Measurement read from outside the program.

``Recorder`` runs each benchmark operation under its own Spark job group
and reads that group's jobs, stages and task metrics back from Spark's
status store (``sc.statusTracker()`` and the ``AppStatusStore`` behind
``sc._jsc.sc().statusStore()``). Both work with the UI off and would
work unchanged against a cluster.

``ProcSampler`` reads CPU seconds and resident memory from ``/proc`` for
the local Spark processes this run started: the ``SparkSubmit`` JVM, the
``pyspark.daemon`` / ``pyspark.worker`` fleet below it and the driver's
own Python. Other Spark processes on the host are not counted. These
numbers exist in local mode only: on a cluster the executors are on
other hosts and ``/proc`` does not see them.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_JVM = b"SparkSubmit"
_WORKER = (b"pyspark.daemon", b"pyspark.worker")


def _stat(pid: int) -> list[str] | None:
    """Fields 3 onward of ``/proc/<pid>/stat`` (after the command name),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> dict[int, int]:
    """Every process below ``root`` in the process tree, found through
    the parent pids in ``/proc``: pid -> start time (clock ticks since
    boot), which tells a process from a later one given the same pid."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            parent[int(name)] = int(st[1])
            start[int(name)] = int(st[19])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out[pid] = start[pid]
            todo.append(pid)
    return out


def alive(pid: int, start: int) -> bool:
    """Whether the process ``pid`` that started at ``start`` still runs
    (a zombie or a reused pid does not count)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z" and int(st[19]) == start


def _spark_pids() -> tuple[list[int], list[int]]:
    """(JVM pids, Python worker pids) among the processes this run
    started — the descendants of this Python — picked by the same
    command-line filter as the older harness's executor CPU scan."""
    jvm, workers = [], []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if _JVM in cmd:
            jvm.append(pid)
        elif any(w in cmd for w in _WORKER):
            workers.append(pid)
    return jvm, workers


def _cpu_s(pid: int) -> float:
    """utime + stime of the process plus its reaped children, so a
    worker that exited between two samples still counts."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(st[i]) for i in (11, 12, 13, 14)) / _TCK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (the ``steal`` column of ``/proc/stat``); 0 on bare
    metal."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


class ProcSampler:
    """CPU counters on demand, and a background thread that samples the
    summed RSS of JVM + workers + this Python every ``period`` seconds
    and keeps the peak."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_rss_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu(self) -> dict[str, float]:
        jvm, workers = _spark_pids()
        return {
            "jvm": sum(_cpu_s(p) for p in jvm),
            "pyworker": sum(_cpu_s(p) for p in workers),
        }

    def sample_rss(self) -> float:
        jvm, workers = _spark_pids()
        parts = {
            "jvm": sum(_rss_mb(p) for p in jvm),
            "pyworker": sum(_rss_mb(p) for p in workers),
            "driver": _rss_mb(os.getpid()),
        }
        total = sum(parts.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_parts = total, parts
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample_rss()

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (idempotent), taking one last sample."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample_rss()


@dataclass
class OpRecord:
    """One benchmark operation: its wall, its Spark counters and (when
    traced) its spans."""

    kind: str
    name: str
    wall_s: float
    ok: bool = True
    note: str = ""
    spark: dict = field(default_factory=dict)
    result: object = None
    cells: int = 0  # ANN queries: distinct cells the neighbours live in


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class Recorder:
    """Runs operations under per-operation job groups and reads their
    Spark counters back once the listener bus has drained."""

    def __init__(self, spark, cores: int, run_id: str):
        self.sc = spark.sparkContext
        self.cores = cores
        self.run_id = run_id
        self._seq = 0

    def _group(self, name: str) -> str:
        self._seq += 1
        return f"{self.run_id}-{self._seq:04d}-{name}"

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id."""
        gid = self._group(name)
        self.sc.setJobGroup(gid, name, False)
        try:
            yield gid
        finally:
            # jobs between operations (checks, checkpoint release) must
            # not land in the last operation's group
            self.sc.setJobGroup(f"{self.run_id}-idle", "idle", False)

    def drain(self) -> None:
        """Wait until the status listener has seen every event posted
        so far, so job and stage records are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counters(self, gid: str, t0_ms: float, t1_ms: float,
                 action_ms: float | None = None) -> dict:
        """Job, stage and task totals of one job group.

        ``action_ms`` is the epoch time at which the operation's final
        action began; jobs submitted before it are counted as eager
        (planning-time side jobs: checkpoints, counts, collects)."""
        self.drain()
        store = self.sc._jsc.sc().statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(gid)
        out = {
            "jobs": len(jobs), "eager_jobs": 0, "stages": 0, "tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "jobs_outside_op": 0,
        }
        seen: set[int] = set()
        for jid in jobs:
            job = store.job(jid)
            sub = _opt_ms(job.submissionTime())
            end = _opt_ms(job.completionTime())
            if action_ms is not None and sub is not None and sub < action_ms:
                out["eager_jobs"] += 1
            # a job of this group that began before the operation or
            # ended after it means the accounting leaks
            if (sub is not None and sub < t0_ms - 50) or (
                end is not None and end > t1_ms + 50
            ):
                out["jobs_outside_op"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                ) / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
        wall = (t1_ms - t0_ms) / 1e3
        out["sched_gap_s"] = wall - out["task_run_s"] / self.cores
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimisation + planning time recorded by the
    ``QueryPlanningTracker`` of ``df``'s own ``QueryExecution``. Forces
    ``executedPlan`` first, so the phases have run on this object."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total


def now_ms() -> float:
    return time.time() * 1e3
