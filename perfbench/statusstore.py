"""py4j readers for Spark's in-process status: jobs, stages and plan metrics.

All JVM access of the benchmark lives here, so a Spark upgrade that moves
these internals breaks this module and nothing else. Every reader works
with ``spark.ui.enabled=false``: the status store is populated by the
listener bus regardless of the UI.
"""

from __future__ import annotations

STAGE_FIELDS = ("tasks", "shuffle_write_bytes", "spill_bytes")
SCAN_FIELDS = ("rows_scanned", "files_read")


class StatusReader:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def set_group(self, group: str) -> None:
        """Tag the jobs this Python thread launches from now on."""
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def group_totals(self, group: str) -> dict[str, int]:
        """Jobs launched under ``group``, and the summed task count, shuffle
        write and spill (memory + disk) of their stages."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(("jobs",) + STAGE_FIELDS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    @staticmethod
    def scan_totals(df) -> dict[str, int]:
        """Rows output and files read by every file scan of ``df``'s executed
        plan (call after the plan ran). Walks through adaptive plans and
        their query stages to the leaves."""
        out = dict.fromkeys(SCAN_FIELDS, 0)
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls in ("FileSourceScanExec", "BatchScanExec"):
                metrics = node.metrics()
                for key, field in (("numOutputRows", "rows_scanned"), ("numFiles", "files_read")):
                    m = metrics.get(key)
                    if m.isDefined():
                        out[field] += m.get().value()
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
        return out

    def jvm_pid(self) -> int:
        return int(self._sc._jvm.java.lang.ProcessHandle.current().pid())


def streaming_progress(query) -> dict[str, list]:
    """Per-trigger phase durations (ms), input rows and state size from a
    finished streaming query's ``recentProgress``."""
    out: dict[str, list] = {
        k: [] for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                        "triggerExecution", "rows", "state_rows", "state_memory_bytes")
    }
    for p in query.recentProgress:
        d = p.durationMs or {}
        if not p.numInputRows:
            continue
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution"):
            out[k].append(d.get(k, 0))
        out["rows"].append(p.numInputRows)
        ops = p.stateOperators or []
        out["state_rows"].append(sum(o.numRowsTotal for o in ops))
        out["state_memory_bytes"].append(sum(o.memoryUsedBytes for o in ops))
    return out
