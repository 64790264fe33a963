"""The engine's Python worker daemon (``sedona_spark.pydaemon``): its cache
invalidation keeps ``importlib.invalidate_caches()`` semantics minus the zip
re-reads, ``get_spark`` selects it, and files shipped into warm workers are
still importable."""

import importlib
import importlib._bootstrap_external as bootstrap_external
import os
import sys
import types
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sedona_spark import pydaemon
from sedona_spark.session import DAEMON_MODULE, get_spark


def _fresh_name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:10]}"


def test_shim_finds_module_written_after_failed_import(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(tmp_path))
    name = _fresh_name("late_mod")
    with pytest.raises(ImportError):
        importlib.import_module(name)  # caches tmp_path's listing
    mtime_ns = os.stat(tmp_path).st_mtime_ns
    (tmp_path / f"{name}.py").write_text("VALUE = 3\n")
    # same directory mtime: only an explicit invalidation can reveal the file
    os.utime(tmp_path, ns=(mtime_ns, mtime_ns))
    assert importlib.util.find_spec(name) is None
    pydaemon.invalidate_caches()
    try:
        assert importlib.import_module(name).VALUE == 3
    finally:
        sys.modules.pop(name, None)


def test_shim_keeps_path_cache_and_namespace_semantics(monkeypatch):
    monkeypatch.setitem(sys.path_importer_cache, "relative_dir", None)
    monkeypatch.setitem(sys.path_importer_cache, "/no/such/dir", None)
    epoch = bootstrap_external._NamespacePath._epoch
    real = zipimport.zipimporter.invalidate_caches
    pydaemon.invalidate_caches()
    assert "relative_dir" not in sys.path_importer_cache
    assert "/no/such/dir" not in sys.path_importer_cache
    assert bootstrap_external._NamespacePath._epoch == epoch + 1
    assert zipimport.zipimporter.invalidate_caches is real


@pytest.mark.skipif(not pydaemon.SHIM_NEEDED, reason="zip invalidation is lazy on 3.13+")
def test_shim_skips_zip_directory_reads(tmp_path, monkeypatch):
    name = _fresh_name("zipped_mod")
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 5\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(name).VALUE == 5
    finally:
        sys.modules.pop(name, None)
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real_read(path)
    )
    pydaemon.invalidate_caches()
    assert reads == []
    importlib.invalidate_caches()  # the stock call re-reads the archive
    assert archive in reads


def test_install_rebinds_only_worker_util(monkeypatch):
    from pyspark import worker_util

    monkeypatch.setattr(worker_util, "importlib", importlib)
    pydaemon.install()
    view = worker_util.importlib
    if pydaemon.SHIM_NEEDED:
        assert view is not importlib
        assert view.invalidate_caches is pydaemon.invalidate_caches
        assert view.import_module is importlib.import_module
    else:
        assert view is importlib
    assert importlib.invalidate_caches is not pydaemon.invalidate_caches


def test_get_spark_sets_daemon_and_extra_conf_wins(monkeypatch):
    seen = []

    def fake_get_or_create(self):
        seen.append(dict(self._options))
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    get_spark("daemon_conf", cpus=1)
    get_spark("daemon_conf", cpus=1,
              extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert seen[0]["spark.python.daemon.module"] == DAEMON_MODULE == "sedona_spark.pydaemon"
    assert seen[1]["spark.python.daemon.module"] == "pyspark.daemon"


def test_session_workers_run_the_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    @F.pandas_udf("string")
    def worker_view(s: pd.Series) -> pd.Series:
        from pyspark import worker_util

        return pd.Series([type(worker_util.importlib).__name__] * len(s))

    seen = {r[0] for r in spark.range(8).repartition(4).select(worker_view("id")).collect()}
    assert seen == {"_WorkerImportlib" if pydaemon.SHIM_NEEDED else "module"}


def test_add_py_file_into_warm_workers(spark, tmp_path):
    py_name, zip_name = _fresh_name("shipped_py"), _fresh_name("shipped_zip")
    df = spark.range(16).repartition(4)

    @F.pandas_udf("long")
    def missing(s: pd.Series) -> pd.Series:
        found = 0
        for name in (py_name, zip_name):
            try:
                importlib.import_module(name)
                found += 1
            except ImportError:
                pass
        return pd.Series([found] * len(s))

    # warm the workers and let them cache a failed lookup of both names
    assert {r[0] for r in df.select(missing("id")).collect()} == {0}

    py_file = tmp_path / f"{py_name}.py"
    py_file.write_text("VALUE = 7\n")
    zip_file = tmp_path / f"{zip_name}.zip"
    with zipfile.ZipFile(zip_file, "w") as z:
        z.writestr(f"{zip_name}.py", "VALUE = 11\n")
    sc = spark.sparkContext
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))

    @F.pandas_udf("long")
    def shipped(s: pd.Series) -> pd.Series:
        a = importlib.import_module(py_name)
        b = importlib.import_module(zip_name)
        return s * 0 + a.VALUE + b.VALUE

    assert {r[0] for r in df.select(shipped("id")).collect()} == {18}
