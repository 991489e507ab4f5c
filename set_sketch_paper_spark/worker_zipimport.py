"""Lazy zipimport cache invalidation for PySpark worker processes.

Every PySpark task starts with ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``).  On CPython 3.10-3.12 that makes
every ``zipimporter`` re-read its whole archive directory on the spot.  A
worker that imported pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds one importer for each archive path and package directory it imported
from: 16 in a pandas UDF worker, 12 over ``pyspark.zip`` (1,328 entries), 2 over the spark-core
jar (5,359) and 2 over the py4j zip.  Each task re-parsed about 27k
directory entries, 80-170 ms before any UDF code ran.

CPython 3.13 made the invalidation lazy: it drops the archive's entry from
the shared ``zipimport._zip_directory_cache``, and the next lookup through
any importer of that archive re-reads it once.  ``install`` backports exactly
that (``_get_files`` / ``invalidate_caches`` of 3.13) by patching the
``zipimporter`` class, so new archive contents shipped with ``addPyFile``
still import after an invalidation.  It runs when ``set_sketch_paper_spark``
is imported, which every package UDF makes a worker do when it unpickles a
task, and it touches nothing in the driver or on Python 3.13+.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
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
    # zipimporter.__init__ assigns the directory it has just put in the shared
    # cache; the cache stays the only copy, as on 3.13
    pass


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def is_active() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> bool:
    """Patch ``zipimporter`` in a PySpark worker on a Python whose invalidation
    is eager; idempotent.  Returns whether lazy invalidation is active."""
    eager = (3, 10) <= sys.version_info[:2] < (3, 13)
    if eager and "pyspark.worker" in sys.modules and not is_active():
        # a data descriptor on the class shadows the ``_files`` each existing
        # importer holds in its instance dict
        zipimport.zipimporter._files = property(_get_files, _set_files)
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return is_active()
