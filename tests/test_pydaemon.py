"""The Python worker daemon (``feast_spark.pydaemon``): its
``importlib.invalidate_caches`` skips re-reading unchanged zip archives,
still sees new and changed ones, and is the one a ``get_spark`` session's
workers actually run."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from feast_spark import pydaemon


def _unique_name() -> str:
    return f"fx_pydaemon_{uuid.uuid4().hex}"


def _write_zip(path, name: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    name = _unique_name()
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.setattr(pydaemon, "_read", {})
    monkeypatch.setattr(importlib, "invalidate_caches", pydaemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module(name).VALUE == 1
        importlib.invalidate_caches()  # no stamp yet: read, stamp taken
        assert reads.count(zpath) == 2  # the import, then the first reset

        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(zpath) == 2

        _write_zip(zpath, name, "VALUE = 22222\n")  # another size
        importlib.invalidate_caches()
        assert reads.count(zpath) == 3
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 22222
    finally:
        sys.modules.pop(name, None)


def test_new_file_in_a_path_dir_is_importable(tmp_path, monkeypatch):
    """FileFinder caches are still reset: the directory's mtime is put
    back after the write, so only the reset makes the new file visible."""
    name = _unique_name()
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(importlib, "invalidate_caches", pydaemon.invalidate_caches)
    try:
        assert importlib.util.find_spec(name) is None  # caches the listing
        st = os.stat(tmp_path)
        (tmp_path / f"{name}.py").write_text("VALUE = 3\n")
        os.utime(tmp_path, ns=(st.st_atime_ns, st.st_mtime_ns))
        importlib.invalidate_caches()
        assert importlib.import_module(name).VALUE == 3
    finally:
        sys.modules.pop(name, None)


def test_workers_run_the_engine_daemon(spark):
    """If a PySpark upgrade stops honouring ``spark.python.daemon.module``,
    this fails instead of every Python task quietly paying the rescan."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "feast_spark.pydaemon"
    )

    def where(it):
        import importlib

        for _ in it:
            pass
        yield pd.DataFrame({"m": [importlib.invalidate_caches.__module__]})

    rows = spark.range(2, numPartitions=2).mapInPandas(where, "m string").collect()
    assert {r["m"] for r in rows} == {"feast_spark.pydaemon"}


def test_worker_imports_a_zip_added_after_start(spark, tmp_path):
    name = _unique_name()
    zpath = tmp_path / f"{name}.zip"
    _write_zip(zpath, name, "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(zpath))

    def value(it):
        import importlib

        for _ in it:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(name).VALUE]})

    rows = spark.range(1, numPartitions=1).mapInPandas(value, "v long").collect()
    assert [r["v"] for r in rows] == [41]
