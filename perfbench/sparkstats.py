"""Spark counters read from outside the package.

Each traced call runs under its own job group. After the call, the
counters of every job in that group are read from the status tracker and
the application status store: jobs, stages, tasks, executor run and CPU
time, shuffle write, spill and input records. Nothing here touches the
package; it only uses the public SparkContext and its status store.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

MB = 1 << 20
COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_mb", "spill_mb",
    "input_records",
)


class SparkCounters:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    @contextmanager
    def group(self, group_id: str):
        """Run the body under job group ``group_id`` (thread-local), then
        restore the caller's group."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group_id: str) -> dict[str, float]:
        """Counters summed over the jobs of ``group_id``. Waits until the
        listener bus has delivered every event, so finished stages are
        complete in the store."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group_id)
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / MB
            out["input_records"] += st.inputRecords()
        return out

    def persistent_rdds(self) -> set[int]:
        """Ids of the RDDs persisted right now (cached artifacts)."""
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}


def cached_mb(spark: SparkSession) -> float:
    """Storage memory held by live persisted RDDs, in MiB.

    Artifacts the package dropped but Spark has not cleaned yet (a local
    checkpoint is only released when its RDD is garbage collected) would
    make the figure depend on GC timing, so both heaps are collected
    first and the cleaner is given time to release what became garbage.
    """
    sc = spark.sparkContext
    gc.collect()
    before = None
    for _ in range(20):
        sc._jvm.java.lang.System.gc()
        time.sleep(0.1)
        n = sc._jsc.getPersistentRDDs().size()
        if n == before:
            break
        before = n
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / MB
