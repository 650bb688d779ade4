"""Process environment and SparkSession for benchmark runs.

Everything a run writes stays under ``<checkout>/.perfbench``: Spark
local dirs, the warehouse, Python and JVM temp files (the fixture
builders stage under ``tempfile.gettempdir()``) and the event log.
The checkout root goes on ``PYTHONPATH`` before the JVM starts, so the
Python workers Spark forks can import the engine package.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical RAM, capped at 4 GiB: well below the
    machine, whatever its size."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(4096, phys // 4 // 2**20))


def prepare_env() -> None:
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    # every JVM spark-submit starts: temp files in the checkout, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session(trace_dir: str | None):
    """``local[cores]`` with shuffle partitions equal to the core count.
    ``trace_dir`` turns on Spark's event log there (uncompressed,
    non-rolling, with per-stage executor metrics)."""
    prepare_env()
    from distributed_computing_projects_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    spark = get_spark(app_name="perfbench", cpus=n, shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # a call cut off by SIGTERM leaves py4j unusable
        pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
