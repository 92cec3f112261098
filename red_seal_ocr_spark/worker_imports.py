"""Lazy zip-importer invalidation for Python workers (CPython < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Before CPython
3.13, ``zipimporter.invalidate_caches()`` eagerly re-reads its archive's
whole central directory, and a worker's ``sys.path_importer_cache``
holds one zip importer per imported subpackage of ``pyspark.zip`` plus
the py4j zip and the Spark core jar: some 16 importers over ~27k zip
entries, re-parsed on every task (0.1-0.7 s per task on a 4-core VM)
whether or not the task imports anything.

CPython 3.13 made this lazy: invalidation only drops the cached
directory, and an archive is re-read when an import next needs it
(``zipimport.zipimporter._get_files``).  :func:`install` backports that
behaviour: the wrapped ``importlib.invalidate_caches`` first drops every
``zipimport.zipimporter`` from ``sys.path_importer_cache`` together with
its archive's cached directory, so the next import that searches such a
path builds a fresh importer, which reads the current archive once.  A
zip that changed on disk is still picked up; modules already imported
keep the loader they were imported with, exactly as before.
"""

from __future__ import annotations

import functools
import importlib
import sys
import zipimport


def _drop_zip_importers() -> None:
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            zipimport._zip_directory_cache.pop(finder.archive, None)
            sys.path_importer_cache.pop(path, None)


def install() -> bool:
    """Wrap ``importlib.invalidate_caches`` once per process.

    Returns whether the wrapper is in place.  A no-op on CPython >= 3.13,
    whose zip importers already invalidate lazily; calling it again is
    safe.
    """
    if sys.version_info >= (3, 13):
        return False
    original = importlib.invalidate_caches
    if getattr(original, "_lazy_zip", False):
        return True

    @functools.wraps(original)
    def invalidate_caches() -> None:
        _drop_zip_importers()
        original()

    invalidate_caches._lazy_zip = True
    importlib.invalidate_caches = invalidate_caches
    return True
