"""Session start and Spark-side readings shared by the workloads."""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_session(tracer):
    """``local[nproc]`` session from the package factory; every other
    conf stays at the package default."""
    from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=str(nproc()))
        spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    """Execute the whole plan and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_ms",
    "gc_ms",
)


def group_counters(spark, group: str) -> dict[str, int]:
    """Job, stage and task accounting for one job group, read from the
    application status store. Skipped stages (reused shuffle output)
    are not counted. Call ``drain_listener`` first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_statuses = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(COUNTERS, 0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(stage_id, False, no_statuses, False, no_quantiles)
            for i in range(attempts.length()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_run_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
    return out


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def set_job_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)
