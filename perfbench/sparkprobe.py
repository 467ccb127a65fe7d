"""Read-only probes of the running engine, from outside the program:
Spark's status store (per job group), the JVM's GC MXBeans, the driver
JVM's peak resident set and the host's CPU steal (a diagnostic)."""

from __future__ import annotations

import resource

COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
    "run_ms", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._group = 0

    def start_group(self, name: str) -> str:
        """Tag every job the calling thread starts from now on."""
        self._group += 1
        gid = f"perfbench-{self._group}-{name}"
        self.sc.setJobGroup(gid, name)
        return gid

    def group_counters(self, gid: str) -> dict[str, float]:
        """Sum the status-store metrics of every job in group ``gid``.
        The store is filled from the listener bus, asynchronously; the
        bus is drained first so the last task, stage and job events of
        the operation are counted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = self.store.job(job_id)
            out["jobs"] += 1
            out["stages_skipped"] += job.numSkippedStages()
            out["failed_tasks"] += job.numFailedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # py4j error: skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["input_records"] += st.inputRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def gc_ms(self) -> int:
        """Total collection time of every JVM garbage collector so far."""
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` (Linux VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def host_cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters of this (virtual) machine, /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share_between(a: list[int], b: list[int]) -> float:
    """Share of non-idle CPU time the hypervisor gave to other guests
    between two host_cpu_ticks() readings: how contended the host was."""
    d = [y - x for x, y in zip(a, b)]
    idle = d[3] + d[4]  # idle, iowait
    steal = d[7] if len(d) > 7 else 0
    busy = sum(d[:8]) - idle
    return steal / busy if busy > 0 else 0.0

