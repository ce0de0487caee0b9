"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive changed.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, once per importer. A worker holds 16 zip
importers over ``pyspark.zip`` (1328 entries), the py4j zip and the
spark-core jar (5359 entries), and one call took 160-570 ms per task on a
4-core machine. Here an importer takes the directory read at the
archive's current ``(st_mtime_ns, st_size)``, and reads it again only
when that signature changes. ``install`` runs from the package
``__init__`` inside a worker only.
"""

import os
import sys
import zipimport

_eager = zipimport.zipimporter.invalidate_caches
_dirs = {}  # archive path -> (signature, directory read at that signature)


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _eager(self)
    sig = (st.st_mtime_ns, st.st_size)
    seen = _dirs.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _eager(self)
    _dirs[self.archive] = (sig, self._files)


def install():
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
