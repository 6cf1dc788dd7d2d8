"""PySpark-native document extraction and corpus curation engine.

Importing the package also cuts two per-task costs in the Python workers.
Every ``mapInPandas`` callable of the package is unpickled in a worker, and
unpickling imports this module first, so what it does here is in place
from a worker's first task of the package on.

1. At the start of every task PySpark's ``worker_util.setup_spark_files``
   calls ``importlib.invalidate_caches()``. The workers import pyspark from
   ``$SPARK_HOME/python/lib/pyspark.zip``; before CPython 3.13,
   ``zipimporter.invalidate_caches`` re-reads the archive's whole central
   directory, once for each of the ≈16 importers that the pyspark import
   leaves in ``sys.path_importer_cache``. For pyspark.zip (1 328 entries)
   that is ≈58 ms of pure-Python CPU per task, on every stage with a
   Python UDF. CPython 3.13 made the method lazy.

   On older versions the method below keeps an archive's cached directory
   while the archive's ``(st_mtime_ns, st_size, st_ino)`` matches the stamp
   taken just before its last read, and otherwise calls the stock method.
   A rewritten, replaced or deleted archive is therefore re-read exactly
   as before, and import semantics do not change. Each archive the process
   had already read is re-read once here, so that it carries a stamp.

2. After every task, a reused worker runs a full ``gc.collect()``
   (``pyspark/daemon.py``). It scans every tracked object, and a worker
   that has imported ``pyspark.worker``, pandas and pyarrow holds about
   73 600 of them, all long-lived: ≈49 ms of CPU per task (43–79 ms on a
   4-vCPU Xeon VM) that frees nothing. Here the worker imports pandas and
   pyarrow (which every UDF of the package needs anyway) and calls
   ``gc.freeze()`` once, which moves that heap to the permanent
   generation. Later collections scan only what was created after the
   freeze, about a thousand objects, in ≈0.5 ms. Frozen objects are never
   collected; the frozen set is the import-time heap of one process, so it
   is bounded. Driver processes (tests, jobs, spark-submit scripts) are
   not frozen.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _stamps: dict[str, tuple[int, int, int] | None] = {}

    def _stat_stamp(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def _read_directory(archive, _stock=zipimport._read_directory):
        # Stat before reading: a write during the read leaves an old stamp,
        # so the next check re-reads.
        stamp = _stat_stamp(archive)
        files = _stock(archive)
        _stamps[archive] = stamp
        return files

    def _invalidate_caches(self, _stock=zipimport.zipimporter.invalidate_caches):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stat_stamp(self.archive)
        if files is None or stamp is None or stamp != _stamps.get(self.archive):
            _stock(self)
        else:
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for _archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[_archive] = _read_directory(_archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(_archive, None)


# Freeze the import-time heap in PySpark workers only. A worker's
# ``__main__`` is ``pyspark.daemon`` (or ``pyspark.worker`` without the
# daemon), the same ``pyspark`` prefix the daemon requires of worker
# modules; a driver's never is, so drivers keep the stock collector.
_main_spec = getattr(sys.modules.get("__main__"), "__spec__", None)
if _main_spec is not None and _main_spec.name.startswith("pyspark"):
    import pandas  # noqa: F401  (every UDF of the package is a mapInPandas)
    import pyarrow  # noqa: F401

    gc.freeze()
