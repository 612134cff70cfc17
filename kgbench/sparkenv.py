"""Spark session lifecycle for the benchmark, confined to the checkout.

Every file Spark, the JVM or the Python workers write goes under the
benchmark's work directory: ``SPARK_LOCAL_DIRS``, ``java.io.tmpdir``,
``TMPDIR``, the warehouse and the optional event log.  The repo root is
exported on ``PYTHONPATH`` before the JVM starts, because the JVM hands
its environment to the Python workers and ``mapInArrow`` imports
``cbor_ld_spark`` there.

The session mirrors ``jobs/build_kg.py``: AQE with skew-join handling,
shuffle partitions equal to the core count, 64k-row Arrow batches.
"""

from __future__ import annotations

import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point every temp/scratch location at ``work``; call before any
    pyspark import starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")


def start(cores: int, work: str, event_log: bool = False):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName(f"kgbench-local{cores}")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.retainedJobs", "20000")
         .config("spark.ui.retainedStages", "40000")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:-UsePerfData"))
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM exits."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (``VmHWM``) of this process and every
    live descendant: the JVM and the Python workers."""
    root_pid = os.getpid()
    parent: dict[int, int] = {}
    hwm: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        parent[pid] = int(stat[stat.rindex(")") + 2:].split()[1])
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                hwm[pid] = int(line.split()[1])
                break
    total = 0
    for pid, kb in hwm.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += kb
    return total / 1024.0
