"""Python worker daemon for the engine's sessions.

:func:`sedona_spark.session.get_spark` sets ``spark.python.daemon.module``
to this module. It runs ``pyspark.daemon.manager()`` unchanged except for
one step of each task's set-up.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task, so
that files shipped with ``addPyFile`` into a warm worker are found. On
Python 3.11 and 3.12 that call also makes every cached ``zipimporter``
re-read its archive's central directory. A worker caches one zipimporter
per package directory it imported from Spark's ``pyspark.zip``, so the zip
is read about 16 times per task.
On a 4-CPU x86 box this took 0.16-0.28 CPU-s of a task's 0.16-0.28 s of
main-thread CPU, more than the engine's UDF work in the task.

Here the call runs with ``zipimport.zipimporter.invalidate_caches`` as a
no-op. Everything else ``importlib.invalidate_caches()`` does is kept:
meta-path finders, directory ``FileFinder`` caches, dropping relative or
``None`` entries of ``sys.path_importer_cache`` and the namespace-path
epoch. An archive added with ``addPyFile`` is a new ``sys.path`` entry and
gets a fresh zipimporter, so it is still found. Only ``worker_util``'s view
of ``importlib`` is rebound; nothing else in the worker changes.

Python 3.13 reads a zip directory lazily after invalidation, so there the
daemon runs stock. Delete this module and the conf in ``session.py`` once
3.13 is the minimum Python version.
"""

from __future__ import annotations

import importlib
import sys
import types
import zipimport

# Python 3.13 made zipimporter invalidation lazy: a directory is re-read on use
SHIM_NEEDED = sys.version_info < (3, 13)


def _skip_zip(self) -> None:
    pass


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` without re-reading zip archives."""
    real = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _skip_zip
    try:
        importlib.invalidate_caches()
    finally:
        zipimport.zipimporter.invalidate_caches = real


class _WorkerImportlib(types.ModuleType):
    """``importlib`` as ``pyspark.worker_util`` sees it: the real module with
    :func:`invalidate_caches` in place of its own."""

    invalidate_caches = staticmethod(invalidate_caches)

    def __getattr__(self, name):
        return getattr(importlib, name)


def install() -> None:
    """Rebind ``pyspark.worker_util``'s ``importlib`` (no-op on 3.13+)."""
    if not SHIM_NEEDED:
        return
    from pyspark import worker_util

    worker_util.importlib = _WorkerImportlib("importlib")


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
