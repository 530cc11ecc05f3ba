"""Per-job, per-stage and Catalyst figures read from Spark itself.

Job and stage figures come from the status tracker and the JVM status
store, which both work with the UI disabled; Catalyst phase times come
from the query execution's phase tracker. Reading them fires no jobs.
"""

from __future__ import annotations

from .trace import union_length


def set_job_group(sc, group: str | None) -> None:
    """Tag the jobs the calling thread fires from now on."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


def group_job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def job_stats(sc, job_ids: list[int]) -> dict:
    """Counts, bytes and executor times of the stages the jobs ran, and
    the jobs' wall-clock intervals (epoch seconds)."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    intervals, stage_ids = [], set()
    for jid in job_ids:
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1000.0,
                              job.completionTime().get().getTime() / 1000.0))
        seq = job.stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "intervals": intervals}
    for sid in sorted(stage_ids):
        try:
            stage = store.stageAttempt(sid, 0, False, no_status, False,
                                       no_quantiles)._1()
        except Exception:   # stage planned but never submitted
            continue
        if stage.status().toString() != "COMPLETE":
            continue        # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += stage.numCompleteTasks()
        out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["spill_bytes"] += (stage.memoryBytesSpilled()
                               + stage.diskBytesSpilled())
        out["executor_run_s"] += stage.executorRunTime() / 1e3
        out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Seconds of [lo, hi] during which at least one job ran."""
    return union_length([(max(a, lo), min(b, hi)) for a, b in intervals
                         if b > lo and a < hi])


def catalyst_phases(df) -> dict[str, float]:
    """Seconds ``df``'s query spent in analysis, optimization and
    planning (plans it if it has not been planned yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1e3
    return out
