"""Spark execution counters per job group, read without the UI.

Jobs come from ``statusTracker().getJobIdsForGroup``; stage metrics
come from the driver's status store (``AppStatusStore.stageData``),
which the status listener fills whether or not the UI is enabled.
"""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import contextmanager

from pyspark import SparkContext

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_run_s",
    "executor_cpu_s",
)

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@contextmanager
def job_group(sc: SparkContext, group: str):
    """Run the body under job group ``group`` and restore the caller's
    group afterwards (groups are thread-local properties)."""
    prev = {k: sc.getLocalProperty(k) for k in (_GROUP, _DESC)}
    sc.setLocalProperty(_GROUP, group)
    sc.setLocalProperty(_DESC, group)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def drain(sc: SparkContext) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the jobs and stages that just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(sc: SparkContext, groups: Iterable[str]) -> list[int]:
    tracker = sc.statusTracker()
    out: list[int] = []
    for g in groups:
        out.extend(tracker.getJobIdsForGroup(g))
    return sorted(set(out))


def counters(sc: SparkContext, groups: Iterable[str]) -> dict[str, float]:
    """Counters summed over every job of ``groups``.  Call ``drain``
    first.  Skipped stages (shuffle output reused) are not counted."""
    tracker = sc.statusTracker()
    jobs = job_ids(sc, groups)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
    return out
