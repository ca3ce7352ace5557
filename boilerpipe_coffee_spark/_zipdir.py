"""Re-read a zip archive's directory only when the archive changed.

Every PySpark task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On CPython 3.11 that makes
every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's central directory and keep a private copy of it: with the
``pyspark.zip`` subpackages, py4j and the spark-core jar that is 16 reads
per task, about 0.2 CPU-s before the first row.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that keys each archive's directory by its ``(st_size, st_mtime_ns)``.
While that is unchanged, the importer just points at the shared
``zipimport._zip_directory_cache`` entry; an archive rewritten in place
changes its stat and is re-read, and an archive ``os.stat`` cannot see
takes the original path.  A ``--py-files``/``addPyFile`` archive added
later sits on a new path, so it gets a fresh importer that reads it.

The package ``__init__`` imports this module, and every engine stage
unpickles package code in the worker, so each Python worker installs it
on its first task.  It imports only ``os``, ``sys`` and ``zipimport``:
worker RSS moves with what workers import.

The replacement relies on CPython internals.  :func:`install` checks
them and raises ``ImportError`` naming the first one missing, rather than
silently doing nothing on an interpreter whose zipimport differs.
"""

import os
import sys
import zipimport

# Names the original invalidate_caches must use, i.e. the contract the
# replacement reproduces: it reads self.archive, re-reads the directory
# with _read_directory, and stores it in self._files and the shared cache.
_ORIGINAL_USES = ("archive", "_files", "_read_directory", "_zip_directory_cache")


def _check(zi) -> None:
    original = getattr(getattr(zi, "zipimporter", None), "invalidate_caches", None)
    code = getattr(original, "__code__", None)
    if code is None:
        raise ImportError(
            f"{zi.__name__}.zipimporter.invalidate_caches is missing or not "
            f"Python code (CPython {sys.version.split()[0]})"
        )
    if not isinstance(getattr(zi, "_zip_directory_cache", None), dict):
        raise ImportError(f"{zi.__name__}._zip_directory_cache is missing")
    for name in _ORIGINAL_USES:
        if name not in code.co_names:
            raise ImportError(
                f"{zi.__name__}.zipimporter.invalidate_caches no longer uses "
                f"{name!r} (CPython {sys.version.split()[0]})"
            )


def _stat_key(path):
    st = os.stat(path)
    return st.st_size, st.st_mtime_ns


def install(zi=zipimport) -> None:
    """Replace ``zi.zipimporter.invalidate_caches`` once per process.
    ``zi`` is the zipimport module; tests pass a stand-in."""
    cls = getattr(zi, "zipimporter", None)
    if getattr(getattr(cls, "invalidate_caches", None), "_stat_keyed", False):
        return
    _check(zi)
    original = cls.invalidate_caches
    cache = zi._zip_directory_cache
    # archive -> (stat key, directory read under it).  The directory is
    # kept with its key so a read that lost a race to a newer one is
    # never taken for current.
    read = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            key = _stat_key(archive)
        except OSError:
            read.pop(archive, None)
            return original(self)
        files = cache.get(archive)
        read_key, read_files = read.get(archive, (None, None))
        if files is None or read_files is not files or read_key != key:
            # stat before the read: a rewrite racing it leaves an old key
            # beside the new directory, so the next call reads again
            original(self)
            files = cache.get(archive)
            if files is None:  # unreadable: original left self._files = {}
                read.pop(archive, None)
                return
            read[archive] = (key, files)
        self._files = files

    invalidate_caches._stat_keyed = True
    # Directories cached before now were read by the stock code; key them
    # by the archive's current stat so the worker's next task reads nothing.
    for archive, files in list(cache.items()):
        try:
            read[archive] = (_stat_key(archive), files)
        except OSError:
            pass
    cls.invalidate_caches = invalidate_caches


install()
