"""Executor-side set-up shared by every Python-worker entry point.

Each task a PySpark worker runs starts in ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before Python 3.12 that call
reaches ``zipimport.zipimporter.invalidate_caches``, which re-reads the
whole central directory of its archive at once. Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``; on Spark 4.1.2 a worker holds
12 zipimporters over that archive (1,328 entries, about 14 ms a read) and
4 over the py4j zip and the ``spark-core`` jar (5,359 entries, about 60 ms
a read), so every task spent 0.3–0.8 CPU-s re-reading them on a 4-vCPU
host. CPython 3.12 made the invalidation lazy (gh-103200).

:func:`ready` gives zip archives the stat-keyed caching that
``FileFinder`` already has for plain directories: an invalidation re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
the last read, so an archive rewritten in place (an ``addPyFile`` zip, say)
is still picked up. A reused worker then pays for the re-read on its first
task only. On Python 3.12 and later :func:`ready` does nothing.

:func:`ready` runs when a worker loads a sparkschema function, not when
the function runs: every Python-worker entry point is marked with
:func:`on_load`, and unpickling the mark calls :func:`ready`. A worker
unpickles a task's functions before it reads any input, so a worker whose
tasks get no rows — an empty partition, or the second evaluation Catalyst
adds when a filter reads a UDF's output — is served from the cache too.
"""

from __future__ import annotations

import collections
import os
import sys
import types
import zipimport

# invalidations of a zipimporter: "reread" went to the archive,
# "cached" reused the directory read for an unchanged archive
counts: collections.Counter = collections.Counter()

_stamps: dict[str, tuple[int, int, int]] = {}
_installed = False


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _reread(archive: str, read, *args) -> None:
    """Re-read ``archive`` with ``read(*args)`` and record the stamp taken
    BEFORE the read, so a rewrite during the read shows as a change on the
    next invalidation."""
    stamp = _stamp(archive)
    read(*args)
    counts["reread"] += 1
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def _install() -> None:
    stdlib = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            counts["cached"] += 1
            return
        _reread(self.archive, stdlib, self)

    # The directories already cached were read before anything recorded
    # their stamps: read each once more, stamp first, so a change between
    # that read and now is not mistaken for an unchanged archive.
    for archive in list(zipimport._zip_directory_cache):
        _reread(archive, _read_into_cache, archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _read_into_cache(archive: str) -> None:
    try:
        zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)


def ready() -> None:
    """Make this worker's zip-archive invalidation stat-checked; call at
    the top of every Python-worker entry point. Idempotent: after the
    first call in a process it costs one global lookup."""
    global _installed
    if _installed:
        return
    _installed = True
    if sys.version_info < (3, 12):
        _install()


class _LoadMark:
    """Unpickles to a call of :func:`ready`."""

    def __reduce__(self):
        return _loaded, ()


def _loaded() -> _LoadMark:
    ready()
    return _MARK


_MARK = _LoadMark()


def on_load(fn: types.FunctionType) -> types.FunctionType:
    """A copy of ``fn`` that calls :func:`ready` in the process that
    unpickles it. Mark every Python-worker entry point (a UDF, a
    ``mapInPandas``/``mapInArrow`` kernel, an ``applyInPandas`` function)
    with it, as a decorator under the UDF decorator or where the function
    is handed to Spark.

    cloudpickle pickles a function's attributes with it when it pickles
    the function by value; the copy is not reachable under its module and
    name, so it is pickled by value even when ``fn`` is a module-level
    function that would be pickled by reference."""
    out = types.FunctionType(fn.__code__, fn.__globals__, fn.__name__,
                             fn.__defaults__, fn.__closure__)
    for attr in ("__kwdefaults__", "__qualname__", "__doc__", "__module__",
                 "__annotations__"):
        setattr(out, attr, getattr(fn, attr))
    out.__dict__.update(fn.__dict__)
    out._sparkschema_ready = _MARK
    return out
