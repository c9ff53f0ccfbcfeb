"""Spark work counters per job group, read from the driver's status store.

The store (``SparkContext.statusStore``) is filled by the application
status listener even with ``spark.ui.enabled=false``. Every job that ran
under a job group is looked up, and the metrics of each of its stages
that actually ran (status COMPLETE or FAILED; skipped stages did no work)
are summed. A stage is counted once, under the first group that claims
it.
"""

from __future__ import annotations

from pyspark import SparkContext

#: every counter ``collect`` returns; the first five are exact counts
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_records",
    "shuffle_write_records",
    "failed_tasks",
    "shuffle_map_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "spill_bytes",
    "executor_run_ms",
    "executor_cpu_ns",
)

_RAN = ("COMPLETE", "FAILED")


class StatusStoreCounters:
    def __init__(self, sc: SparkContext):
        self._sc = sc
        self._jsc = sc._jsc.sc()  # noqa: SLF001
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def flush(self) -> None:
        """Wait until the listener has processed every event posted so far,
        so the jobs that just ended are in the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def collect(self, group: str) -> dict[str, int]:
        """Summed counters of the jobs run under ``group``. Call ``flush``
        first."""
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds()
            for i in range(stage_ids.length()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() not in _RAN:
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_read_records"] += st.shuffleReadRecords()
                out["shuffle_write_records"] += st.shuffleWriteRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                w = st.shuffleWriteBytes()
                out["shuffle_write_bytes"] += w
                if w > 0:
                    out["shuffle_map_tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ns"] += st.executorCpuTime()
        return out


def add(into: dict[str, int], other: dict[str, int]) -> dict[str, int]:
    for k in COUNTERS:
        into[k] = into.get(k, 0) + other.get(k, 0)
    return into
