"""PySpark's worker daemon, started with lazy zip-archive cache invalidation.

``session.build_session`` names this module in
``spark.python.daemon.module``, so Spark starts its Python worker daemon
as ``python -m flink_kafka_consumer_cassandra_output_spark.pyworker``;
the module applies :func:`install` and then runs
``pyspark.daemon.manager()``.  Forked workers inherit the patch.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py:setup_spark_files``).
Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads its whole
archive directory on the spot, and a warm worker holds sixteen
zipimporters (``pyspark.zip`` and its subpackages, py4j, the spark-core
jar), so every task re-parsed some 8 000 zip entries: about 0.2 s per
call on Python 3.11 (4-vCPU host), against under 0.1 ms once lazy.
Python 3.13 made the invalidation lazy (drop the archive from
``zipimport._zip_directory_cache``; the next lookup re-reads it), and
:func:`install` backports exactly that.  On 3.13 and later the module is
a pass-through.

``spark.python.worker.module`` cannot carry this: ``pyspark/daemon.py``
ignores a worker module whose name does not start with ``pyspark``.
The module imports only ``sys``, ``zipimport`` and ``pyspark.daemon``,
so the daemon starts as cheaply as PySpark's own.
"""

import sys
import zipimport


def _files(self):
    """The archive's directory, read on first use after invalidation
    (CPython 3.13's ``zipimporter._get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # ``zipimporter.__init__`` assigns ``self._files`` after it has put
    # the same dict into ``_zip_directory_cache``; the cache is the only
    # copy the getter reads.
    pass


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy in this process (and in
    every process it forks).  A no-op on Python 3.13 and later."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter._files = property(_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
