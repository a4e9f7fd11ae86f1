"""Process environment, Spark session and host facts for benchmark runs.

Everything a run writes goes under one work directory inside the
checkout: Spark's local dirs, the JVM and Python temp dirs, the
warehouse, the event log and the generated inputs.
"""

from __future__ import annotations

import os
import platform
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
DRIVER_MEM = "2g"


def program_available() -> bool:
    """True when the checkout holds the package under test."""
    return os.path.isfile(os.path.join(ROOT, "flink_kafka_consumer_cassandra_output_spark", "__init__.py"))


def process_age_s() -> float:
    """Seconds since this process started (kernel clock ticks, 10 ms)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare(work_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work_dir``, and fix the session's size.  Call before starting Spark."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    env = {
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        # Every JVM, the spark-submit launcher included: temp files inside
        # the work dir, and no perf-data file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        # Python workers are started by the JVM and import the package.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work_dir: str, event_log: bool = False):
    """``local_session`` at ``CORES`` cores, with an uncompressed,
    non-rolling event log under ``work_dir`` when ``event_log`` is set."""
    from flink_kafka_consumer_cassandra_output_spark.session import local_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # A fixed-size heap: G1 resizing it mid-run made both latency and
        # peak memory differ from run to run.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return local_session(cores=CORES, extra_conf=conf)


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM, in MiB."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kib(os.getpid()) + _vm_hwm_kib(jvm_pid)) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: the gateway exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_record(seed: int, load1: float) -> dict:
    import pyspark

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "driver_mem": DRIVER_MEM,
        "load1_before": load1,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
