"""Lazy zip-import invalidation in Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py::setup_spark_files``). Up to CPython 3.12 that
makes every ``zipimporter`` re-read its archive's whole central directory on
the spot. A worker holds about 16 of them, one per pyspark sub-package
loaded from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), so each
task paid 16 reads, about 190 ms of CPU on a 4-core x86 host, before its
kernel ran, whatever its row count (``PERF_LAZY_ZIPIMPORT.json``). CPython
3.13 made the invalidation lazy: it drops the shared
``zipimport._zip_directory_cache`` entry, and the directory is re-read on
the first lookup that needs it. ``install`` gives older interpreters that
behaviour: importers read the directory through the shared cache instead of
a per-instance copy. No stat or mtime heuristic is involved, so an archive
rewritten in place (a ``pyFiles`` zip) is still seen after the next
invalidation.

The package's ``__init__`` calls ``install_in_worker``, which acts only
inside a PySpark worker. The worker sets the task context before it
unpickles a UDF, so every kernel whose pickle refers to engine code
installs it; a closure that refers to none leaves a fresh worker as it is.
The driver process is left as it is. Worker reuse
(``spark.python.worker.reuse``, default on) then skips the reads on every
later task of that worker, whatever it runs.
"""

from __future__ import annotations

import sys
import zipimport


class _DirectoryCache(dict):
    """``zipimport._zip_directory_cache`` whose missing entries load on
    lookup. ``zipimporter.__init__`` and ``pkgutil.iter_modules`` index the
    cache directly, so both keep working after an entry is dropped."""

    def __missing__(self, archive):
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _files(self):
    """The archive's directory, read at most once per invalidation."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:
        return {}


def _ignore_files(self, files):
    # zipimporter.__init__ assigns the directory it has just cached; the
    # shared cache stays the only copy.
    pass


def _invalidate_caches(self):
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy in this process. Returns
    False if the interpreter already is lazy (it has
    ``zipimporter._get_files``, CPython 3.13+) or the shim is in place."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or cls.invalidate_caches is _invalidate_caches:
        return False
    zipimport._zip_directory_cache = _DirectoryCache(zipimport._zip_directory_cache)
    cls._files = property(_files, _ignore_files)
    cls.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)
    return True


def install_in_worker() -> bool:
    """``install`` when running inside a PySpark task, else do nothing."""
    from pyspark import TaskContext

    return TaskContext.get() is not None and install()
