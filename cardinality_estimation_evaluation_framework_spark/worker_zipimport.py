"""Lazy zip-directory invalidation inside Spark Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython
3.13 every ``zipimporter`` answers by reading its archive's whole directory
again. A PySpark 4.1.2 worker holds 16 of them (``pyspark.zip`` and its
subpackages, py4j, the spark-core jar): 0.1-0.4 s of every task on a
4-vCPU VM, spent re-reading archives that did not change. CPython 3.13 made
the call lazy (``Lib/zipimport.py``, ``zipimporter._get_files`` and
``invalidate_caches``): it drops the archive's entry from
``zipimport._zip_directory_cache``, and the next lookup in that archive
reads the directory again.

``lazy_zip_directories`` backports that behaviour into a worker. The package
import calls it, and a worker imports the package when it unpickles a
package kernel, before the kernel runs; from then on that (reused) worker
pays a dict pop per task. An archive that really changed is read again at
its next lookup, as on 3.13. Also as on 3.13, ``pkgutil.iter_modules`` over
a zip path reads ``_zip_directory_cache`` directly, so between an
invalidation and that archive's next lookup it raises ``KeyError``.
"""

from __future__ import annotations

import sys
import zipimport


def _files(importer) -> dict:
    """3.13's ``zipimporter._get_files``: the archive's cached directory,
    read again after an invalidation. An unreadable archive has no files,
    and that answer is not cached."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[importer.archive]
    except KeyError:
        try:
            files = cache[importer.archive] = zipimport._read_directory(importer.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(importer) -> None:
    """3.13's ``zipimporter.invalidate_caches``."""
    zipimport._zip_directory_cache.pop(importer.archive, None)


def lazy_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as on CPython 3.13, in a
    Spark Python task on CPython < 3.13; elsewhere return at once."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    cls = zipimport.zipimporter
    # ``__init__`` fills the cache itself, then assigns ``self._files``
    cls._files = property(_files, lambda importer, files: None)
    cls.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)  # the stale per-importer copy
