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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_session(cores: int | None = None, **kw) -> SparkSession:
    n = cores or default_parallelism()
    return build_session(master=f"local[{n}]", shuffle_partitions=n, **kw)
