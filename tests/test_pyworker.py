"""The engine's PySpark worker daemon (``pyworker``).

``session.build_session`` starts every Python worker through
``pyworker``, which makes ``zipimporter.invalidate_caches`` lazy (the
Python 3.13 behaviour) so PySpark's per-task ``invalidate_caches()`` no
longer re-reads ``pyspark.zip``, py4j and the spark-core jar.  The daemon
runs as ``__main__`` inside the JVM-started Python process, so these
tests check what it does there -- the cache state inside a task, imports
after invalidation, a session started outside the checkout -- and not
which functions it calls.  ``install`` patches the whole process, so its
own test runs in a subprocess.
"""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from flink_kafka_consumer_cassandra_output_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _BuilderStop(Exception):
    pass


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every ``config``
    and stops at ``getOrCreate``, so the conf is read without a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        raise _BuilderStop


def _session_conf(monkeypatch, **kw) -> dict[str, str]:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    with pytest.raises(_BuilderStop):
        session.build_session(**kw)
    return builder.conf


def test_daemon_module_exists_and_imports_only_stdlib_and_pyspark(monkeypatch):
    """No Spark.  The module ``build_session`` names as the worker daemon
    exists in the package, and neither it nor the packages ``python -m``
    runs before it import anything beyond the standard library and
    ``pyspark``: every Python worker of the session starts through it."""
    conf = _session_conf(monkeypatch)
    name = conf["spark.python.daemon.module"]
    spec = importlib.util.find_spec(name)
    assert spec is not None and spec.origin, f"daemon module {name} not found"
    assert spec.origin.startswith(os.path.join(ROOT, name.split(".")[0]) + os.sep)
    parts = name.split(".")
    files = [importlib.util.find_spec(".".join(parts[:i])).origin for i in range(1, len(parts))]
    allowed = set(sys.stdlib_module_names) | {"pyspark", "__future__"}
    for path in files + [spec.origin]:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                roots = [a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                assert node.level == 0, f"{path}: relative import in the daemon path"
                roots = [node.module.split(".")[0]]
            else:
                continue
            bad = [r for r in roots if r not in allowed]
            assert not bad, f"{path}:{node.lineno} imports {bad}"


def test_executor_pythonpath_leads_with_package_parent(monkeypatch):
    """No Spark.  The package's parent directory comes first on the
    workers' PYTHONPATH, and a caller's own value is kept behind it."""
    conf = _session_conf(monkeypatch)
    assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
    conf = _session_conf(
        monkeypatch, extra_conf={"spark.executorEnv.PYTHONPATH": "/opt/extra"}
    )
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([ROOT, "/opt/extra"])


def test_install_makes_zip_invalidation_lazy(tmp_path):
    """No Spark.  After ``install``, ``importlib.invalidate_caches()``
    drops a zip archive from ``zipimport._zip_directory_cache`` instead of
    re-reading it, and the next import re-reads it: a module added to the
    archive after the first import still imports.  The importer exists
    before ``install`` runs, as PySpark's do in the daemon."""
    script = textwrap.dedent(
        f"""
        import importlib, json, sys, zipfile, zipimport
        sys.path.insert(0, {ROOT!r})
        from flink_kafka_consumer_cassandra_output_spark import pyworker

        archive = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        import zmod_a
        cached_before = archive in zipimport._zip_directory_cache
        pyworker.install()
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zmod_b.py", "B = 2\\n")
        importlib.invalidate_caches()
        cached_after_invalidate = archive in zipimport._zip_directory_cache
        import zmod_b
        print(json.dumps({{
            "before": cached_before,
            "after_invalidate": cached_after_invalidate,
            "after_import": archive in zipimport._zip_directory_cache,
            "values": [zmod_a.A, zmod_b.B],
        }}))
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0, r.stderr
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got == {
        "before": True,
        "after_invalidate": False,
        "after_import": True,
        "values": [1, 2],
    }


_UNLOADED_CANDIDATES = (
    "pyspark.statcounter",
    "pyspark.install",
    "pyspark.find_spark_home",
    "pyspark.mllib.stat.distribution",
    "pyspark.ml.linalg",
)


def _probe_worker(_rows):
    import importlib
    import sys
    import zipimport

    import pyspark

    importlib.invalidate_caches()
    cached = sorted(k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip"))
    fresh = next(m for m in _UNLOADED_CANDIDATES if m not in sys.modules)
    mod = importlib.import_module(fresh)
    yield (pyspark.__file__, cached, fresh, mod.__file__)


def test_worker_invalidation_leaves_pyspark_zip_unread(spark):
    """Inside a task, ``importlib.invalidate_caches()`` leaves
    ``pyspark.zip`` out of ``zipimport._zip_directory_cache`` (the eager
    pre-3.13 importer re-reads it on the spot and puts it back), and a
    pyspark submodule the worker has not loaded yet still imports from the
    archive afterwards."""
    ((pyspark_file, cached, fresh, fresh_file),) = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_probe_worker).collect()
    )
    assert "pyspark.zip" in pyspark_file, "workers do not import pyspark from its zip"
    assert cached == [], f"invalidate_caches re-read {cached}"
    assert "pyspark.zip" in fresh_file, (fresh, fresh_file)


def test_session_outside_checkout_runs_python_tasks(tmp_path):
    """A session built from another working directory, with no
    PYTHONPATH, still starts its worker daemon and runs a
    ``mapInPandas``: the daemon module is found through the workers'
    PYTHONPATH, not through the current directory."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from flink_kafka_consumer_cassandra_output_spark.session import local_session

        spark = local_session(cores=2)
        out = spark.range(6).mapInPandas(lambda it: (p * 2 for p in it), "id long")
        print(sorted(r.id for r in out.collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6, 8, 10]"
