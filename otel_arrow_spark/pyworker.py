"""Python worker daemon for the engine's UDFs (``spark.python.daemon.module``).

PySpark's own daemon, with one change made before it forks any worker:
``zipimport.zipimporter.invalidate_caches`` becomes a no-op. Every Python
UDF task calls ``importlib.invalidate_caches()`` while it sets up its
files (``pyspark.worker_util.setup_spark_files``), and on Python 3.11
each ``zipimporter`` on the worker's path answers by re-reading its whole
archive's central directory. A worker's path holds ``pyspark.zip`` and
the spark-core jar (~5,400 entries) under about 16 importer entries, so
that re-read cost 150-280 ms per task on a 4-core host: more than the
Arrow↔pandas conversions of a 25k-row parse batch. The archives on a
worker's path do not change while it lives, and the directory finders
(``FileFinder``) are still invalidated as before.

``session.get_spark`` sets this module as the daemon and puts the
package root on the workers' ``PYTHONPATH``, so the daemon starts
whatever the driver's working directory is. On a cluster the package
must be importable on the executors (installed there, or on their
``PYTHONPATH``): the daemon starts before any task ships its files.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` without the archive re-read."""


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    daemon.manager()
