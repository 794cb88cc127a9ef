"""Per-layer records, read from outside the package.

Spark side: every traced op runs under its own job groups (one for its
plan build, one for its sink), and after the pass, off the clock, the
groups' jobs and stages are summed from Spark's status store once the
listener bus has drained. That needs no UI and no event log. Host side: a
fixed single-thread loop and the steal counter in /proc/stat, recorded
between passes so drift in the machine shows next to the timings.
"""

from __future__ import annotations

import time

# StageData accessor -> record key
_STAGE_FIELDS = {
    "executorRunTime": "run_ms", "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms", "inputBytes": "input_bytes",
    "inputRecords": "input_rows", "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes", "numCompleteTasks": "tasks",
}


class SparkTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._runtime = spark._jvm.java.lang.Runtime.getRuntime()

    def group(self, name: str) -> float:
        """Start Spark job group `name`; returns the seconds it took."""
        t = time.perf_counter()
        self.sc.setJobGroup(name, name)
        return time.perf_counter() - t

    def residents(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def heap_used_mb(self) -> float:
        rt = self._runtime
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group_totals(self, name: str) -> dict:
        """Jobs, ran stages and their summed task metrics for one group."""
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(name)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {"jobs": len(jobs), "stages": 0,
               **{k: 0 for k in _STAGE_FIELDS.values()}}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            for acc, key in _STAGE_FIELDS.items():
                tot[key] += getattr(sd, acc)()
        return tot


def cpu_probe_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-thread loop: the host's speed now."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x ^= i
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # guest time is already counted in user time
    return vals[7], sum(vals[:8])
