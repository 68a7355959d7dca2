"""Counters read from outside the program: Spark's status store through
py4j, a streaming listener, and /proc.

Nothing here changes what the program runs. Job groups label the build
and collect phases of an operation; every counter is read after the
operation's timer has stopped.
"""

from __future__ import annotations

import os

from pyspark.sql.streaming import StreamingQueryListener

_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "peak_exec_mem_bytes": "peakExecutionMemory",
    "gc_ms": "jvmGcTime",
}


class SparkCounters:
    """Per-operation job, stage and task counters from the status store.

    Jobs are numbered in submission order, so the jobs an operation
    started are the ids past the last one seen before it, including jobs
    the program submits from its own threads (streaming micro-batches).
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self._store = self._jsc.statusStore()
        jvm = self._sc._jvm
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._empty_list = jvm.java.util.ArrayList
        self.next_job = self._first_unseen(0)
        self.totals: dict[str, float] = dict.fromkeys(
            ["jobs", "stages", *_STAGE_FIELDS], 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _first_unseen(self, start: int) -> int:
        j = start
        while self._tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def group_jobs(self, group: str) -> int:
        return len(self._tracker.getJobIdsForGroup(group))

    def collect_op(self) -> None:
        """Add the jobs started since the last call to the totals."""
        self.drain()
        end = self._first_unseen(self.next_job)
        for j in range(self.next_job, end):
            self.totals["jobs"] += 1
            for sid in self._tracker.getJobInfo(j).stageIds:
                self._add_stage(sid)
        self.next_job = end

    def _add_stage(self, sid: int) -> None:
        datas = self._store.stageData(sid, False, self._empty_list(), False,
                                      self._no_quantiles)
        for i in range(datas.size()):
            s = datas.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            self.totals["stages"] += 1
            for k, getter in _STAGE_FIELDS.items():
                v = getattr(s, getter)()
                if k == "peak_exec_mem_bytes":
                    self.totals[k] = max(self.totals[k], v)
                else:
                    self.totals[k] += v


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch durations and state-store figures over every
    streaming query that reports progress while it is registered."""

    DURATIONS = {"addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
                 "commitOffsets": "commit_offsets_ms",
                 "queryPlanning": "query_planning_ms"}

    def __init__(self):
        self.totals = dict.fromkeys(
            ["micro_batches", "state_commit_ms", "state_rows_total",
             "state_memory_bytes", *self.DURATIONS.values()], 0)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.totals["micro_batches"] += 1
        durations = p.durationMs or {}
        for k, name in self.DURATIONS.items():
            self.totals[name] += int(durations.get(k, 0))
        for op in p.stateOperators or []:
            self.totals["state_commit_ms"] += int(op.commitTimeMs)
            # rows held and memory are levels, not flows: keep the peak
            self.totals["state_rows_total"] = max(
                self.totals["state_rows_total"], int(op.numRowsTotal))
            self.totals["state_memory_bytes"] = max(
                self.totals["state_memory_bytes"], int(op.memoryUsedBytes))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _cpu_steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    ticks = [int(x) for x in fields]
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, sum(ticks[:8])


class Contention:
    """Box load around the measured interval: load average per core and
    the share of CPU time stolen by the hypervisor. Context only; it never
    drops, repeats or re-weights a run."""

    def __init__(self):
        self._ncpu = len(os.sched_getaffinity(0))
        self._start_load = os.getloadavg()[0] / self._ncpu
        self._start_steal = _cpu_steal_ticks()

    def report(self) -> dict:
        steal, total = _cpu_steal_ticks()
        d_steal = steal - self._start_steal[0]
        d_total = total - self._start_steal[1]
        return {
            "loadavg_per_core_start": round(self._start_load, 3),
            "loadavg_per_core_end": round(os.getloadavg()[0] / self._ncpu, 3),
            "cpu_steal_frac": round(d_steal / d_total, 5) if d_total else 0.0,
            "nproc": self._ncpu,
        }
