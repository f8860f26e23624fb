"""Counters read from the running driver JVM: Spark jobs, stages and tasks
per job group (``statusTracker``), GC time (JVM MXBeans) and the JVM's
peak resident set (``VmHWM`` in ``/proc``)."""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def job_group(spark, groups: list[str]):
    """Run the block's Spark jobs under a fresh job group, appended to
    ``groups`` so :func:`job_counts` can find them."""
    name = f"perfbench-{id(groups)}-{len(groups)}"
    groups.append(name)
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, executed stages, completed and failed tasks of ``groups``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    seen: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            jobs += 1
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage_id in seen or not stage.numCompletedTasks:
                    continue
                seen.add(stage_id)
                stages += 1
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MB (psutil is not a dependency)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
