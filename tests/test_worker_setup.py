"""The per-process worker setup installed on import (``bytefreq_spark._worker``):
zip archives are re-read only when they change, and a Spark Python worker
freezes its import-time heap once."""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport
from contextlib import contextmanager

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here
import pytest
from pyspark.sql import functions as F

from bytefreq_spark import _worker

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 zipimporter.invalidate_caches re-reads nothing")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pre_313
def test_unchanged_archive_not_reread_changed_archive_reread(
        tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"bf_zip_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.delitem(sys.modules, "bf_zip_first", raising=False)
    monkeypatch.delitem(sys.modules, "bf_zip_second", raising=False)
    assert importlib.import_module("bf_zip_first").X == 1
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches

    importlib.invalidate_caches()  # first call: stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"bf_zip_first": "X = 1\n",
                         "bf_zip_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert str(archive) in reads
    assert importlib.import_module("bf_zip_second").Y == 2


def test_install_freezes_once_and_only_in_a_task(monkeypatch):
    from pyspark.taskcontext import TaskContext

    freezes = []
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    monkeypatch.setattr(_worker, "_installed", False)
    _worker.install()  # the driver: no task context, no freeze
    assert freezes == []

    monkeypatch.setattr(_worker, "_installed", False)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    _worker.install()
    _worker.install()
    assert freezes == [1]


def _report(spark):
    """What the Python worker of a one-task job sees: whether the package
    is imported, the zip wrapper installed and the heap frozen.  The UDF is
    a closure, shipped by value, and imports nothing of the package."""
    @F.pandas_udf("string")
    def seen(s: pd.Series) -> pd.Series:
        import gc as _gc
        import sys as _sys
        import zipimport as _zi

        fn = _zi.zipimporter.invalidate_caches
        state = (f"{'bytefreq_spark' in _sys.modules},"
                f"{getattr(fn, '__module__', None) == 'bytefreq_spark._worker'},"
                f"{_gc.get_freeze_count() > 0}")
        return s.map(lambda _: state)

    return spark.range(1, numPartitions=1).select(seen("id")).first()[0]


@contextmanager
def _fresh_workers(spark, tag):
    """Python UDFs made inside the block carry one more environment
    variable, so their tasks run in a Python daemon and workers of their
    own that no earlier job has used."""
    env = spark.sparkContext.environment
    env["BYTEFREQ_WORKER_SETUP_TEST"] = tag
    try:
        yield
    finally:
        env.pop("BYTEFREQ_WORKER_SETUP_TEST", None)


def test_worker_setup_reaches_pandas_and_seq_dot_workers(spark):
    from bytefreq_spark.similarity import seq_dot_udf

    wrapped = str(sys.version_info < (3, 13))
    with _fresh_workers(spark, "fresh"):
        assert _report(spark) == "False,False,False"

    with _fresh_workers(spark, "pandas"):
        @F.pandas_udf("long")
        def imports(s: pd.Series) -> pd.Series:
            import bytefreq_spark  # noqa: F401
            return s

        spark.range(1, numPartitions=1).select(imports("id")).collect()
        assert _report(spark) == f"True,{wrapped},True"

    with _fresh_workers(spark, "seq_dot"):
        df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])],
                                   "a array<float>, b array<float>")
        assert df.select(seq_dot_udf(2)("a", "b")).collect()[0][0] == 11.0
        assert _report(spark) == f"True,{wrapped},True"
