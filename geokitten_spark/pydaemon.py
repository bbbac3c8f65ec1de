"""Spark's Python worker daemon with lazy zip-directory invalidation.

Set as ``spark.python.daemon.module`` (``session.DEFAULT_CONFS``). Every
Python task calls ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``). Before CPython 3.13 each ``zipimporter`` then
re-reads its whole archive: ~16 importers over the 1,328 entries of
``pyspark.zip``, ~0.3 s per task. This installs 3.13's semantics before
the daemon forks any worker: invalidation drops the shared directory
entry and the next lookup re-reads it once. A no-op on 3.13+.
"""

import sys
import zipimport

import pyspark.daemon

if sys.version_info < (3, 13):
    _cache = zipimport._zip_directory_cache

    def _files(self):
        try:
            return _cache[self.archive]
        except KeyError:
            try:
                files = _cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def _invalidate_caches(self):
        _cache.pop(self.archive, None)

    # ``__init__`` still assigns ``self._files`` (already in the cache)
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    pyspark.daemon.manager()
