"""Engine conf of get_session sessions: Python workers fork from the
guarded daemon, and ensure_engine_conf tolerates only the failures a
deployment's fixed conf or a session proxy can raise."""

import pytest
from pyspark.errors import AnalysisException

from bioio_spark.session import ensure_engine_conf


def test_python_tasks_do_not_reread_zip_archives(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "bioio_spark.pydaemon"

    def rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        calls = []
        read = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    one = spark.range(1, numPartitions=1)
    schema = "zips long, reads long"
    one.mapInPandas(rereads, schema).collect()
    second = one.mapInPandas(rereads, schema).collect()[0]
    # the worker imports pyspark from zip archives, which the stock
    # invalidate_caches re-parses on every call
    assert second.zips > 0
    assert second.reads == 0


class _Conf:
    def __init__(self, exc):
        self.exc = exc

    def set(self, key, value):
        raise self.exc


class _Session:
    def __init__(self, exc):
        self.conf = _Conf(exc)


class _SlottedSession:
    __slots__ = ("conf",)

    def __init__(self, exc):
        self.conf = _Conf(exc)


def test_ensure_engine_conf_tolerates_fixed_conf_only(spark):
    with pytest.raises(AnalysisException) as fixed:
        spark.conf.set("spark.sql.warehouse.dir", "/nonexistent")
    assert "CANNOT_MODIFY" in str(fixed.value)

    session = _Session(fixed.value)
    assert ensure_engine_conf(session) is session
    assert session._bioio_conf_applied is True
    slotted = _SlottedSession(fixed.value)
    assert ensure_engine_conf(slotted) is slotted

    with pytest.raises(RuntimeError):
        ensure_engine_conf(_Session(RuntimeError("gateway down")))
