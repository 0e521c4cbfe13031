"""Per-job-group Spark counters from the driver-local status store.

The benchmark tags the Spark jobs of one call with a job group, set in the
thread that makes the call, and reads the group's jobs and stages after
the timed window: ``SparkContext.statusTracker()`` for job ids and the
``AppStatusStore`` for per-stage task counts, CPU time and bytes. Both
live in the driver and work with the UI disabled; reading them starts no
Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


def tag(sc, group: str) -> str | None:
    """Tag later jobs of the calling thread with ``group``; returns the
    group it replaces so the caller can restore it."""
    prev = sc.getLocalProperty(GROUP_PROP)
    sc.setJobGroup(group, group)
    return prev


def restore(sc, prev: str | None) -> None:
    sc.setLocalProperty(GROUP_PROP, prev)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    # (submitted, completed) in epoch seconds, one per job
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    # tasks of the first stage that ran: the stage that scans the input
    first_stage_tasks: int = 0


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_s(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


def group_stats(sc, group: str) -> GroupStats:
    """Counters over every job tagged ``group``. Stages that Spark skipped
    (their output was reused) are not counted; a stage shared by two jobs
    of the group counts once."""
    store = sc._jsc.sc().statusStore()
    out = GroupStats()
    seen: set[int] = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        out.jobs += 1
        sub, done = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
        if sub is not None and done is not None:
            out.job_intervals.append((sub, done))
        for sid in sorted(_seq(job.stageIds())):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            if not out.first_stage_tasks:
                out.first_stage_tasks = st.numTasks()
            out.tasks += st.numTasks()
            out.cpu_ms += st.executorCpuTime() / 1e6
            out.output_bytes += st.outputBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
    return out
