"""Counters read from outside the program: /proc and Spark's status store."""

from __future__ import annotations

import json
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def own_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root` and every live descendant, plus the
    children each of them has already reaped."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                pass  # exited while we listed
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total = 0.0
    for pid in tree:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def process_age_s(pid: int) -> float:
    """Seconds since the process started (clock-tick resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(pid)[19]) / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> None:
    """Restart VmHWM at the current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


# StageData fields summed per query, with the unit scale to apply.
_STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("spill_disk_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
    "inputRecords": ("input_rows", 1),
    "outputBytes": ("output_mb", 1 / 2**20),
    "outputRecords": ("output_rows", 1),
}
COUNTER_KEYS = ("jobs", "stages", *(k for k, _ in _STAGE_FIELDS.values()))


# Stage states after which Spark no longer updates a stage's metrics.
_FINAL = ("COMPLETE", "FAILED", "SKIPPED")


class SparkCounters:
    """Per-interval sums over the stages and jobs Spark's status store
    recorded since the previous call.

    The store keeps only the newest `spark.ui.retainedStages` stages
    (1000 by default), so a running total over the whole list would go
    wrong in a long run; each call reads only the ids above a
    high-water mark.  The store is filled asynchronously by the
    listener bus, so each call first waits for the bus to drain, and a
    stage counts only once it is final: the mark stays below the
    oldest stage still pending or active, which is read again on the
    next call.  Both lists come newest first.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        scala = sc._jvm.com.fasterxml.jackson.module.scala
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self._last_stage = self._last_job = -1
        self._counted: set[int] = set()  # final stages above the mark
        self.delta()

    @staticmethod
    def _n_new(seq, key, last: int) -> int:
        """How many leading elements of `seq` have an id above `last`."""
        n, size = 0, seq.size()
        while n < size and getattr(seq.apply(n), key)() > last:
            n += 1
        return n

    def take(self, stages: list[dict]) -> dict[str, float]:
        """Sum the final stages among `stages` (every stage above the
        mark, as dicts) that no earlier call counted; move the mark."""
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        for s in stages:
            if s["status"] in _FINAL and s["stageId"] not in self._counted:
                self._counted.add(s["stageId"])
                out["stages"] += 1
                for field, (key, scale) in _STAGE_FIELDS.items():
                    out[key] += s[field] * scale
        if stages:
            still_open = [s["stageId"] for s in stages if s["status"] not in _FINAL]
            self._last_stage = (min(still_open) - 1 if still_open
                                else max(s["stageId"] for s in stages))
            self._counted = {i for i in self._counted if i > self._last_stage}
        return out

    def delta(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(60_000)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        n = self._n_new(stages, "stageId", self._last_stage)
        out = self.take(json.loads(self._mapper.writeValueAsString(stages.slice(0, n))) if n else [])
        jobs = self._store.jobsList(None)
        n = self._n_new(jobs, "jobId", self._last_job)
        if n:
            out["jobs"] = n
            self._last_job = jobs.apply(0).jobId()
        return out


def storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20
