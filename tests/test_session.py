"""Driver JVM options that ``session.build_session`` sets for local masters.

A ``local[...]`` session gets ``-XX:+UseParallelGC -XX:MetaspaceSize=256m``
ahead of the caller's ``spark.driver.extraJavaOptions``; a collector the
caller already picks wins, and other masters get nothing.  All but the
last test read the conf without a JVM.
"""

from __future__ import annotations

import os

import pytest

from tests.test_pyworker import _session_conf

ENGINE = "-XX:+UseParallelGC -XX:MetaspaceSize=256m"
OPTS = "spark.driver.extraJavaOptions"


@pytest.fixture
def clean_env(monkeypatch):
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    return monkeypatch


def _env_picks_collector() -> bool:
    from flink_kafka_consumer_cassandra_output_spark.session import _GC_SELECTOR

    return any(
        _GC_SELECTOR.search(os.environ.get(v, ""))
        for v in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
    )


def test_local_master_gets_engine_flags_before_callers(clean_env):
    conf = _session_conf(clean_env, master="local[2]", extra_conf={OPTS: "-Xms2g"})
    assert conf[OPTS] == f"{ENGINE} -Xms2g"
    assert _session_conf(clean_env, master="local")[OPTS] == ENGINE


@pytest.mark.parametrize("where", [
    "spark.driver.extraJavaOptions",
    "spark.driver.defaultJavaOptions",
    "JAVA_TOOL_OPTIONS",
    "JDK_JAVA_OPTIONS",
])
def test_callers_collector_wins(clean_env, where):
    """Two collector flags stop the JVM, so none is added when the
    caller picks one in any of the four places."""
    caller = "-Xms1g -XX:+UseG1GC"
    if where.startswith("spark."):
        conf = _session_conf(clean_env, master="local[2]", extra_conf={where: caller})
    else:
        clean_env.setenv(where, caller)
        conf = _session_conf(clean_env, master="local[2]")
    assert "UseParallelGC" not in conf[OPTS]
    assert conf[OPTS].startswith("-XX:MetaspaceSize=256m")
    if where == OPTS:
        assert conf[OPTS] == f"-XX:MetaspaceSize=256m {caller}"


def test_callers_metaspace_size_comes_last(clean_env):
    conf = _session_conf(
        clean_env, master="local[4]", extra_conf={OPTS: "-XX:MetaspaceSize=512m"}
    )
    assert conf[OPTS] == f"{ENGINE} -XX:MetaspaceSize=512m"


@pytest.mark.parametrize(
    "master", [None, "spark://head:7077", "yarn", "local-cluster[2,1,1024]"]
)
def test_non_local_master_gets_no_engine_flags(clean_env, master):
    assert OPTS not in _session_conf(clean_env, master=master)
    conf = _session_conf(clean_env, master=master, extra_conf={OPTS: "-Xms2g"})
    assert conf[OPTS] == "-Xms2g"


def test_live_session_runs_parallel_collector(spark):
    """The shared session's JVM was started with the engine's metaspace
    threshold, and runs the Parallel collector unless the environment
    already picks one, which the engine then leaves alone."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert "-XX:MetaspaceSize=256m" in list(mf.getRuntimeMXBean().getInputArguments())
    if _env_picks_collector():
        assert "UseParallelGC" not in spark.sparkContext.getConf().get(OPTS)
    else:
        names = {b.getName() for b in mf.getGarbageCollectorMXBeans()}
        assert names == {"PS Scavenge", "PS MarkSweep"}
