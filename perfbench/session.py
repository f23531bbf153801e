"""The benchmark's Spark session, confined to the checkout it runs in."""

from __future__ import annotations

import os
import subprocess
import zipfile

from perfbench import procfs


def cores() -> int:
    """local[k] with k one less than the host's cpu count (at most 3, at
    least 1): the spare core runs the driver JVM's scheduler, JIT and GC
    threads and the driver Python, which otherwise compete with the tasks
    and make the many short jobs of a resumed run wait on the OS
    scheduler."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def confine(work: str) -> None:
    """Point every temp and scratch location of this process and its
    children inside ``work``. Call before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # the small JVM spark-submit starts to build the driver command line
    # would otherwise leave its perf data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start(work: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    k = cores()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("paraocr_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.default.parallelism", str(k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # the host has 15 GB shared with other tenants; the largest
        # workload peaks well under this heap. The heap is committed and
        # touched up front, so peak memory is not the accident of how far
        # the collector let it grow
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData '
                "-Xms2g -XX:+AlwaysPreTouch "
                f'-Dderby.system.home="{tmp}"')
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ship(spark, root: str, work: str) -> None:
    """Send paraocr_spark and this package to the Python workers as one
    zip: workers do not inherit the driver's sys.path, so a driver started
    outside the repo would otherwise fail every task on import."""
    path = os.path.join(work, "pyfiles.zip")
    with zipfile.ZipFile(path, "w") as z:
        for pkg in ("paraocr_spark", "perfbench"):
            for dirpath, _, files in os.walk(os.path.join(root, pkg)):
                for f in sorted(files):
                    if f.endswith((".py", ".txt")):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(path)


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then the JVM, and wait for every process the run
    started to end."""
    from pyspark import SparkContext

    started = [p for p in procfs.tree_pids() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout_s)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        procfs.wait_gone(started, timeout_s)
