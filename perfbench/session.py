"""Spark session lifecycle for one benchmark run.

Everything Spark, the JVM and the Python workers write goes under the
run's work directory inside the checkout. ``stop`` ends the JVM and
waits until it and every worker it forked have exited.
"""

from __future__ import annotations

import os
import re
import signal
import subprocess
import time

from . import host

# One scan partition per parquet file: the open cost equals the largest
# split, so Spark neither splits a file nor packs two files into one
# task. The workloads' file counts then set their scan layout exactly,
# at any input size.
_OPEN_COST = str(128 << 20)


def start(work_dir: str, cores: int):
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # takes precedence over spark.local.dir when a caller's environment
    # sets it; shuffle and block files stay in the work directory
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile
    tempfile.tempdir = None
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("algebird_spark_perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.files.openCostInBytes", _OPEN_COST)
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def restart(spark, work_dir: str, cores: int):
    """New SparkContext with another core count, in the same JVM."""
    spark.stop()
    return start(work_dir, cores)


def stop(spark, timeout_s: float = 60.0) -> list[int]:
    """Stop Spark, end the JVM and wait for it and its workers to exit.
    Returns the pids that had to be killed."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = [proc.pid] + host.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    # the gateway server exits when its stdin closes
    proc.stdin.close()
    killed = []
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
        killed.append(proc.pid)
    deadline = time.monotonic() + timeout_s
    for pid in tree[1:]:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
            killed.append(pid)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return killed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def leaked_state(spark) -> dict:
    """Persisted RDDs and cached tables still held; both must be zero
    after a timed job, so warm repeats recompute instead of reusing."""
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return {"persisted_rdds": int(jsc.getPersistentRDDs().size()),
            "cached_tables": 0 if cache_manager.isEmpty() else 1}


def scheduler_counts(spark, group: str) -> dict:
    """Stages, tasks and failed tasks of every job run under a job group."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for sid in list(info.stageIds):
            st = tracker.getStageInfo(sid)
            if st is None:  # skipped: its output was reused
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"stages": stages, "tasks": tasks, "failed_tasks": failed}


_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange (?!.*Reused)")


def exchanges(df) -> int:
    """Shuffle Exchange nodes in the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in final.splitlines() if _EXCHANGE.search(line))
