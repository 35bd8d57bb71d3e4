"""The benchmark's Spark session.  Its settings are fixed here, not
imported from the program, so a change to the program cannot move them."""

from __future__ import annotations

import os
import time

DRIVER_MEMORY = "3g"
# The JIT compiles a method after a tenth of its usual call counts.
# Catalyst's planning code runs only a few times per query, so with the
# default thresholds a session kept speeding up for minutes (catalog
# passes of 14.8, 12.7, 10.6 ... 9.0 s over nine passes); with these,
# the second pass already runs at the speed the later ones hold.
JIT_OPTIONS = "-XX:CompileThresholdScaling=0.1"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_session(scratch: str):
    """``local[nproc]`` session: shuffle partitions = nproc, UTC, AQE on,
    UI off, early JIT, every temporary file under ``scratch``."""
    from pyspark.sql import SparkSession

    cores = nproc()
    local_dir = os.path.join(scratch, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={scratch} {JIT_OPTIONS}")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout: float = 30.0) -> None:
    """Wait until no descendant of this process is alive; kill stragglers."""
    import signal

    from .rss import descendants

    deadline = time.monotonic() + timeout
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def job_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages, completed and failed tasks of one job group, plus
    the tasks of its first stage (the scan).  A stage that several jobs
    share (adaptive execution re-lists finished stages) counts once."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    infos = {sid: tracker.getStageInfo(sid) for sid in stage_ids}
    infos = {sid: st for sid, st in infos.items() if st is not None}
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(infos),
        "spark.tasks": sum(st.numCompletedTasks for st in infos.values()),
        "spark.failed_tasks": sum(st.numFailedTasks for st in infos.values()),
        "spark.scan_tasks": infos[min(infos)].numCompletedTasks if infos else 0,
    }


def planning_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the query's planning
    tracker.  Forces physical planning first, so a query that ran
    through a separate write command still reports all three phases."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"plans.{phase}_ms"] = float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
    return out
