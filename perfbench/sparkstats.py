"""Per-call Spark attribution from the driver's own ``AppStatusStore``,
plus JVM garbage-collection and JIT time over JMX.

Calls run one at a time, so every job whose id is above the mark taken
before a call belongs to that call. This also catches jobs that the
program starts from its own threads, where a job group set on the
calling thread would not reach. The status store keeps the last 1,000
stages, so a meter is read right after each call."""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def as_dict(self) -> dict[str, float]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


class StageMeter:
    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm = self.sc._jvm
        self.mark = self._last_job()

    def _jobs(self):
        return self.store.jobsList(self.jvm.java.util.ArrayList()).iterator()

    def _last_job(self) -> int:
        self.bus.waitUntilEmpty()
        it = self._jobs()  # newest first
        return it.next().jobId() if it.hasNext() else -1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self.mark = self._last_job()

    def end(self) -> StageTotals:
        """Totals over every job started since :meth:`begin`."""
        self.bus.waitUntilEmpty()
        out = StageTotals()
        stage_ids: set[int] = set()
        top = self.mark
        it = self._jobs()
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= self.mark:
                break  # the store lists jobs newest first
            top = max(top, jid)
            out.jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        self.mark = top
        if not stage_ids:
            return out
        lowest = min(stage_ids)
        empty = self.jvm.java.util.ArrayList()
        stages = self.store.stageList(
            empty, False, False, self.sc._gateway.new_array(self.jvm.double, 0), empty
        ).iterator()
        while stages.hasNext():
            s = stages.next()
            sid = s.stageId()
            if sid not in stage_ids or s.status().toString() == "SKIPPED":
                if sid < lowest:
                    break  # the store lists stages newest first
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks() + s.numFailedTasks()
            out.exec_run_s += s.executorRunTime() / 1e3
            out.exec_cpu_s += s.executorCpuTime() / 1e9
            out.shuffle_mb += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / 2**20
            out.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        return out


def jvm_gc_jit_s(spark: SparkSession) -> tuple[float, float]:
    """Cumulative GC and JIT-compilation time of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, g.getCollectionTime()) for g in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3
