"""SparkSession construction tuned for both local testing and cluster scale.

The reference assembles its environment in ``BackupMessageConsumer.main``
(/root/reference/src/main/java/com/cansever/consumer/BackupMessageConsumer.java:33-34:
``getExecutionEnvironment`` + ``enableCheckpointing``).  Here the analog is a
SparkSession with AQE enabled (runtime re-planning: partition coalescing,
skew-join splitting) and a UTC session timezone -- the engine pins all
date/time semantics to UTC (SURVEY.md section 5 case 2: the reference's Joda
formatter used the JVM default zone; we deliberately pin instead).

Scale posture: ``spark.sql.shuffle.partitions`` defaults to the local core
count for tests, but on a real cluster it should be ~2-3x the executor-core
total (or left to AQE's coalescing with a high initial value).  Nothing in
the engine hard-codes a partition count; operators that need co-location
call ``repartition`` on keys explicitly.

Python workers: every session starts PySpark's worker daemon through
``pyworker`` (``spark.python.daemon.module``), which makes zip-archive
cache invalidation lazy as Python 3.13 does.  PySpark invalidates import
caches at the start of every Python task, and before 3.13 that re-read
all of ``pyspark.zip``, py4j and the spark-core jar each time: a warm
four-partition ``mapInPandas`` of 2 000 rows took about 0.48 s, and
0.28-0.34 s with the daemon (4-vCPU host, ``local[4]``).  The package's
parent directory is prepended to ``spark.executorEnv.PYTHONPATH`` so the
daemon, and every function pickled by reference to this package, imports
in the workers from any working directory.

Driver JVM collector: a ``local[...]`` session runs every executor thread
in the driver JVM, and for it ``build_session`` puts
``-XX:+UseParallelGC -XX:MetaspaceSize=256m`` in front of the caller's
``spark.driver.extraJavaOptions`` (the caller's flags come after, so a
caller's own ``-XX:MetaspaceSize=`` wins).  The engine keeps about 100 MB
of old-generation data, but G1 spreads eden over every region of a fixed
heap: one curation session with ``-Xms2g`` peaked at 2 489 MiB JVM
``VmHWM`` beside 155 MiB for Python.  The Parallel collector reuses one
young generation, so resident memory follows the live set: median peak
2 702 -> 1 562 MiB on the benchmark's curation mix and 2 420 -> 1 505 MiB
on its ingest stream (4-vCPU host, ``local[4]``, 10 pairs each).
``MetaspaceSize`` lifts the first metaspace collection threshold above
what the engine's loaded and generated classes need: without it one
traced curation run paid five ``Pause Full (Metadata GC Threshold)``
pauses of 31-200 ms; with it there were none.  A collector the caller
already picks (in ``spark.driver.extraJavaOptions``,
``spark.driver.defaultJavaOptions``, ``JAVA_TOOL_OPTIONS`` or
``JDK_JAVA_OPTIONS``) wins, and no engine collector flag is added: the
JVM refuses to start with two.  Other masters are left alone: their
drivers do not run the tasks, and a cluster sets its own JVM options.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver JVM flags for local masters (module docstring: driver JVM collector).
_PARALLEL_GC = "-XX:+UseParallelGC"
_METASPACE_SIZE = "-XX:MetaspaceSize=256m"
_GC_SELECTOR = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def build_session(
    app_name: str = "flink_kafka_consumer_cassandra_output_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's standard configuration.

    ``master=None`` keeps whatever the environment provides (spark-submit on a
    cluster); tests pass ``local[N]``.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # AQE: runtime partition coalescing, skew-join handling, join demotion.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # All timestamp semantics pinned to UTC (SURVEY.md section 5 case 2).
        "spark.sql.session.timeZone": "UTC",
        # Arrow for any pandas interchange (toPandas, pandas UDFs).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # Local mode runs every executor thread inside the driver JVM, whose
        # default heap is 1g -- a 32-thread sweep degrades steadily under GC
        # pressure (measured: the same query 2x slower mid-sweep than alone).
        # Static conf: applies only when this process creates the first
        # SparkSession (spark-submit on a real cluster sets its own).
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        # Parquet vectorized reader + pushdown are on by default; kept
        # explicit as documentation of the scan posture.
        "spark.sql.parquet.filterPushdown": "true",
        # The events fixture stores ts as TIMESTAMP(NANOS); read as long and
        # convert explicitly (sources/tables.py) instead of failing the scan.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Fixture timestamps carry no timezone flag (isAdjustedToUTC=false);
        # with the UTC session zone the LTZ read is wall-time-identical to
        # DuckDB's naive read, and LTZ keeps the whole timestamp function
        # surface (unix_micros, ORC writes) available.  Spark 4 would
        # otherwise infer TIMESTAMP_NTZ.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.python.daemon.module"] = f"{__package__}.pyworker"
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    if master and (master == "local" or master.startswith("local[")):
        caller = conf.get("spark.driver.extraJavaOptions")
        chosen = [
            caller,
            conf.get("spark.driver.defaultJavaOptions"),
            os.environ.get("JAVA_TOOL_OPTIONS"),
            os.environ.get("JDK_JAVA_OPTIONS"),
        ]
        gc = None if any(_GC_SELECTOR.search(o or "") for o in chosen) else _PARALLEL_GC
        conf["spark.driver.extraJavaOptions"] = " ".join(
            p for p in (gc, _METASPACE_SIZE, caller) if p
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_session(cores: int | None = None, **kw) -> SparkSession:
    n = cores or default_parallelism()
    return build_session(master=f"local[{n}]", shuffle_partitions=n, **kw)
