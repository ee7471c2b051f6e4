"""Spark's Python worker daemon, reading each zip archive once per import
cache invalidation.

``session.build_session`` names this module in the static conf
``spark.python.daemon.module``. Spark starts it as ``python -m
presto_weather_spark._worker_daemon <worker module>``, and it runs
pyspark's own daemon, which takes the worker module from ``sys.argv[1]``.

Before each task pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``. Below CPython 3.13 that makes every
``zipimporter`` re-read its archive's directory, and a worker holds about
15 of them over ``pyspark.zip`` (one per package inside it, 1,328 entries
each time): 0.15-0.29 CPU-s a task with CPython 3.11 and Spark 4.1.2 on a
4-vCPU VM. Run as the daemon, this module makes one invalidation read each
archive once and hand that listing to every importer over it, so a
rewritten archive is still seen after every invalidation. CPython 3.13
does the same by itself. Importing the module changes nothing.
"""

import importlib
import sys
import zipimport


def _share_zip_listings() -> None:
    """Patch ``importlib.invalidate_caches`` and ``zipimporter`` so that
    one invalidation reads each archive's directory once. The read stays
    eager, unlike CPython 3.13's: ``pkgutil`` reads zipimport's directory
    cache directly, and pyspark's data source lookup uses ``pkgutil``."""
    reread = zipimport.zipimporter.invalidate_caches
    invalidate_all = importlib.invalidate_caches
    shared = None  # archive -> listing, only while one invalidation runs

    def invalidate_caches(self):
        if shared is not None and self.archive in shared:
            self._files = shared[self.archive]
            return
        reread(self)
        if shared is not None:
            shared[self.archive] = self._files

    def invalidate_once():
        nonlocal shared
        shared = {}
        try:
            invalidate_all()
        finally:
            shared = None

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches = invalidate_once


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        _share_zip_listings()
    from pyspark.daemon import manager

    manager()
