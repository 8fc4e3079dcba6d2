"""Spark's own per-call counters, read from the AppStatusStore over py4j.

The status store is filled by the listener bus even with
``spark.ui.enabled=false``. A call's work is the set of stages and jobs whose
ids are above the ones seen before the call.
"""

from __future__ import annotations

STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


class StatusStore:
    def __init__(self, spark):
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = spark._jvm
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _settle(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(highest stage id, highest job id) seen so far."""
        self._settle()
        stages = self._store.stageList(self._empty, False, False,
                                       self._no_quantiles, self._empty)
        jobs = self._store.jobsList(self._empty)
        return (stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def since(self, mark: tuple[int, int]) -> dict:
        """Totals over the stages and jobs started after ``mark``."""
        self._settle()
        stage_mark, job_mark = mark
        stages = self._store.stageList(self._empty, False, False,
                                       self._no_quantiles, self._empty)
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        for i in range(stages.size()):   # newest first
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break
            for f in STAGE_FIELDS:
                tot[f] += getattr(s, f)()
        jobs = self._store.jobsList(self._empty)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= job_mark:
                break
            n_jobs += 1
        return {
            "jobs": n_jobs,
            "tasks": tot["numTasks"],
            "cpu_s": tot["executorCpuTime"] / 1e9,
            "run_s": tot["executorRunTime"] / 1e3,
            "gc_s": tot["jvmGcTime"] / 1e3,
            "shuffle_write_mb": tot["shuffleWriteBytes"] / 1e6,
            "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / 1e6,
        }

    def cached_mb(self) -> float:
        self._settle()
        rdds = self._store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
                   for i in range(rdds.size())) / 1e6
