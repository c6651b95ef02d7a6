"""Python worker daemon: ``pyspark.daemon`` with a cheaper import-cache reset.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Each cached
``zipimport.zipimporter`` then re-reads its whole archive directory, and
``pyspark.zip`` alone has one importer per imported package: 0.1-0.3
CPU-s per task. Here a cached zipimporter whose archive ``(st_mtime_ns,
st_size)`` is unchanged since it was last read keeps its directory; every
other finder, and every new or changed archive, is invalidated as before.

``session.get_spark`` starts it as ``spark.python.daemon.module``. Its own
imports are the stdlib and ``pyspark.daemon``; ``python -m`` also runs
``feast_spark/__init__.py`` before the first fork.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches

# archive path -> its (st_mtime_ns, st_size) when its directory was last
# read; per process, like sys.path_importer_cache and zipimport's own cache
_read: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _zip_stamps() -> dict[str, tuple[int, int] | None]:
    return {
        f.archive: _stamp(f.archive)
        for f in list(sys.path_importer_cache.values())
        if isinstance(f, zipimport.zipimporter)
    }


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the re-read of unchanged
    zip archives: their importers sit out of ``sys.path_importer_cache``
    while the stock routine runs, then go back in."""
    stamps = _zip_stamps()
    cache = sys.path_importer_cache
    kept = {
        path: f
        for path, f in cache.items()
        if isinstance(f, zipimport.zipimporter)
        and os.path.isabs(path)  # relative entries are dropped, as before
        and stamps[f.archive] is not None
        and _read.get(f.archive) == stamps[f.archive]
    }
    for path in kept:
        del cache[path]
    try:
        _invalidate_caches()
    finally:
        cache.update(kept)
    _read.update(stamps)


def main() -> None:
    from pyspark import daemon

    # the archives imported so far were read just now, before any fork
    _read.update(_zip_stamps())
    importlib.invalidate_caches = invalidate_caches
    daemon.manager()


if __name__ == "__main__":
    # run the named module's copy, so the patched function and its state
    # belong to feast_spark.pydaemon, not to __main__
    from feast_spark.pydaemon import main as _main

    _main()
