"""Start, observe and stop the Spark engine inside the run directory.

Everything the engine writes (shuffle files, temp files, warehouse) goes
under the run's own directory, and ``stop`` waits until the JVM and its
Python workers have exited.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

from . import procstat

#: engine parallelism and client count, fixed so runs compare across hosts
CPUS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start(work: str):
    """``session.get_spark`` with every scratch path under ``work``.

    Returns the session and the seconds ``get_spark`` took."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_DRIVER_MEMORY": "2g",
            # overrides spark.local.dir, so it must point inside the run too
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # the short-lived launcher JVM would otherwise write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            # Python workers import the package and the benchmark from here
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    from trading_dashboard_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    return spark, time.perf_counter() - t0


@dataclass
class OpCounts:
    jobs: int
    stages: int
    tasks: int


def op_counts(spark, group: str) -> OpCounts:
    """Jobs, stages that ran and tasks that ran for one job group, read
    from the status tracker. Stages the scheduler skipped (their shuffle
    output was reused) are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for sid in {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks + info.numFailedTasks
    return OpCounts(len(jobs), stages, tasks)


def stop(spark) -> None:
    """Stop the session, end the JVM, and wait for every process this one
    started; a process still alive after 30 s is killed."""
    from pyspark import SparkContext

    others = [p for p in procstat.tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in procstat.wait_gone(others, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    procstat.wait_gone(others, 10)
