"""Per-operation Spark stage counters from the driver's status store.

Each operation runs under its own job group; afterwards its jobs' stages are
read from ``SparkContext.statusStore`` (populated with ``spark.ui.enabled``
off) without running another job.
"""
from __future__ import annotations

FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


class StageCollector:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)

    def tag(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def collect(self, op_id: str) -> dict:
        """Summed counters of the completed stages of ``op_id``'s jobs."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        out = dict.fromkeys(FIELDS, 0)
        out.update(jobs=len(jobs), stages=0, single_task_stages=0)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                attempts = self._store.stageData(
                    stage, False, self._jvm.java.util.ArrayList(), False,
                    self._no_quantiles,
                )
                for i in range(attempts.size()):
                    data = attempts.apply(i)
                    if str(data.status()) != "COMPLETE":
                        # skipped (shuffle reused) or a failed attempt
                        out["numFailedTasks"] += data.numFailedTasks()
                        continue
                    out["stages"] += 1
                    for field in FIELDS:
                        out[field] += getattr(data, field)()
                    out["single_task_stages"] += data.numTasks() == 1
        return out
