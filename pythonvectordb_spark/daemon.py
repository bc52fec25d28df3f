"""Python worker daemon: Spark forks every Python worker from the module
named by ``spark.python.daemon.module`` (``session.get_spark`` names
this one), so set-up done here, before the first fork, reaches the
workers of every UDF shape — ``mapInPandas``, ``pandas_udf``,
``applyInPandas``, RDD and Python data-source workers alike.

Run as ``python -m pythonvectordb_spark.daemon``. The module imports only
the standard library until it runs, so the daemon does not load numpy,
pandas or ``pyspark.sql`` through the package before ``pyspark.daemon``
asks for them.
"""

import importlib
import os
import zipimport


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed (idempotent, per process).

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of EVERY task (``pyspark/worker_util.py`` setup_spark_files),
    and on CPython 3.11 each of the worker's zipimporters then re-reads
    its whole archive directory: 16 importers over pyspark.zip, the
    spark-core jar and the py4j zip, 105-150 ms per task (measured on
    CPython 3.11.7, 4 busy cores). The daemon installs this before it
    forks any worker, so every task of every worker skips the re-read of
    an unchanged archive.

    The stamp ``(st_mtime_ns, st_size, st_ino)`` is kept per importer and
    taken before the read it vouches for, so a change that races the
    read triggers another read next time; each importer of a changed
    archive re-reads on its own. If the archive cannot be stat'ed the
    original method runs (it already handles a missing archive)."""
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._stamp = None
            return orig(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_stamp", None) != stamp:
            orig(self)
            self._stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager  # creates the worker's zipimporters

    skip_unchanged_zip_rereads()
    importlib.invalidate_caches()  # stamp every importer once, before any fork
    manager()
