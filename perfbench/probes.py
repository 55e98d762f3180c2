"""Per-layer probes read from outside the engine: Spark's status store and
block manager through the JVM gateway, and process CPU time from /proc.

Nothing here hooks into ``gmr_spark``; every reading is taken before and
after a call into one of its public functions.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is field 3 (state)
    return raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    """Live children of ``pid``, forked by any of its threads."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User + system CPU seconds of one process; with ``reaped`` also those
    of its children that have exited and been waited for."""
    f = stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the PySpark worker daemons under the JVM and of every
    worker they forked, live or already reaped."""
    total = 0.0
    for daemon in children(jvm_pid):
        total += cpu_s(daemon, reaped=True)
        total += sum(cpu_s(w) for w in children(daemon))
    return total


class SparkProbe:
    """Status-store, block-manager and conf readings around one call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.memory = self.sc._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self.gc_beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans().toArray())
        self.jvm_pid = self.sc._gateway.proc.pid
        self._seen_jobs: set[int] = set(self._job_ids(None))

    def _job_ids(self, group: str | None) -> list[int]:
        return self.sc.statusTracker().getJobIdsForGroup(group)

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1000.0

    def storage_mb(self) -> float:
        return self.memory.storageMemoryUsed() / MB

    def rdd_blocks(self) -> int:
        rdds = self.store.rddList(True)
        return sum(rdds.apply(i).numCachedPartitions() for i in range(rdds.size()))

    def conf(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def processes(self) -> dict[str, float]:
        return {
            "driver_cpu_s": cpu_s(os.getpid()),
            "jvm_cpu_s": cpu_s(self.jvm_pid),
            "python_worker_cpu_s": python_worker_cpu_s(self.jvm_pid),
        }

    def new_jobs(self, group: str) -> list[int]:
        """Jobs started since the last call: those tagged with ``group`` plus
        untagged ones, which the engine submits from its own pool threads
        (job groups are thread-local)."""
        ids = set(self._job_ids(group)) | set(self._job_ids(None))
        fresh = sorted(ids - self._seen_jobs)
        self._seen_jobs |= ids
        return fresh

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        t = {"stages": 0, "skipped_stages": 0, "tasks": 0, "task_run_s": 0.0,
             "task_cpu_s": 0.0, "shuffle_read_mb": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for s in stage_ids:
            try:
                sd = self.store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the store or never submitted
                t["skipped_stages"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                t["skipped_stages"] += 1
                continue
            t["stages"] += 1
            t["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            t["task_run_s"] += sd.executorRunTime() / 1000.0
            t["task_cpu_s"] += sd.executorCpuTime() / 1e9
            t["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            t["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            t["spill_mb"] += sd.diskBytesSpilled() / MB
        return t

    @contextmanager
    def measure(self, group: str) -> Iterator[dict]:
        """Counters of the call made inside the block, tagged with job group
        ``group``. The dict is filled when the block exits normally."""
        self.sc.setJobGroup(group, group)
        self.new_jobs(group)  # earlier untagged jobs are not this call's
        conf0, blocks0, gc0 = self.conf(), self.rdd_blocks(), self.gc_s()
        proc0 = self.processes()
        out: dict = {}
        with StoragePeak(self) as peak:
            yield out
        proc1 = self.processes()
        jobs = self.new_jobs(group)
        out.update(self.stage_totals(jobs))
        out["jobs"] = len(jobs)
        out["gc_s"] = self.gc_s() - gc0
        out["storage_peak_mb"] = peak.peak
        out["blocks_left"] = self.rdd_blocks() - blocks0
        conf1 = self.conf()
        out["conf_drift"] = sum(conf0.get(k) != conf1.get(k)
                                for k in conf0.keys() | conf1.keys())
        out.update({k: v - proc0[k] for k, v in proc1.items()})
        self.sc.setJobGroup("bench", "untraced")


class StoragePeak:
    """Samples block-manager storage memory on a thread while a call runs.

    The polling competes with the call it measures: at a 0.05 s interval it
    added about 0.15 s to each short tpch_llm query, at 0.25 s a few ms."""

    def __init__(self, probe: SparkProbe, interval_s: float = 0.25):
        self.probe = probe
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.probe.storage_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> StoragePeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.probe.storage_mb())
