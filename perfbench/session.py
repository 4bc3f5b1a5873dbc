"""A Spark session sized for a small box, writing only under a work
directory, and a shutdown that waits for the JVM and its workers."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every task slot runs a JVM thread and a Python worker, so two slots
# already keep four cores busy; more only adds contention. The inputs
# are megabytes, so a 1 GiB heap is ample.
MAX_SLOTS = 2
DRIVER_MEMORY = "1g"


def slots() -> int:
    return max(1, min(MAX_SLOTS, os.cpu_count() or 1))


def prepare_env(workdir: str) -> None:
    """Environment the JVM and its Python workers inherit: the package
    importable whatever the caller's cwd, temp files under ``workdir``.
    Must run before the first session starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")


def start(workdir: str):
    from pyspark.sql import SparkSession

    k = slots()
    # a heap fixed at its maximum does not resize, so the JVM's resident
    # size grows the same way from run to run
    java_opts = (f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} "
                 f"-XX:-UsePerfData -Xms{DRIVER_MEMORY}")
    spark = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("logmill-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(2 * k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session and the JVM; wait until the JVM and every
    process under it has exited."""
    from pyspark import SparkContext
    from . import probes

    root = jvm_pid()
    tree = probes.process_tree(root) if root else []
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    probes.wait_gone(tree)
