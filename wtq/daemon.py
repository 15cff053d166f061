"""Spark's Python worker daemon, minus two fixed costs per task.

``get_spark`` names this module as ``spark.python.daemon.module``, so
Spark starts it as ``python -m wtq.daemon`` and forks one worker per
Python task from it.  Before handing over to ``pyspark.daemon``:

* On CPython < 3.13, ``zipimporter.invalidate_caches`` gets its 3.13
  body: drop the archive's cached directory, do not re-read it.
  PySpark's worker calls ``importlib.invalidate_caches()`` on every
  task, and the 3.11 body re-reads the whole directory of
  ``pyspark.zip`` once per zipimporter (14-16 of them).  An archive
  added later is a new path entry with a new importer, an archive on
  the path does not change while a worker lives, and ``.py`` files
  added with ``addPyFile`` are found by ``FileFinder``, whose
  invalidation is untouched.
* It imports what a score task imports, so the forked workers inherit
  the modules, and freezes them out of the garbage collector: the
  collect PySpark's daemon runs after every task then walks only what
  the task made.
"""

import gc
import sys
import zipimport

if sys.version_info < (3, 13):

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

from pyspark import daemon  # noqa: E402  (imports pyspark.worker)

import wtq.rules.batch  # noqa: E402,F401

if __name__ == "__main__":
    gc.collect()
    gc.freeze()
    daemon.manager()
