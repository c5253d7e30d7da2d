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


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A driver started outside the repository that reaches bioio_spark
    only through ``sys.path.insert`` runs Python tasks: get_session puts
    the package's parent on its local workers' PYTHONPATH, after the
    caller's own value. A plain ``mapInPandas`` needs it (every worker
    forks from ``bioio_spark.pydaemon``), and so does a bioio_raw read,
    whose DataSource is unpickled in a worker."""
    import os
    import subprocess
    import sys
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        import numpy as np
        from bioio_spark import BioImage
        from bioio_spark.session import get_session
        from bioio_spark.sources.raw_format import write_raw
        spark = get_session(extra_conf={{
            "spark.executorEnv.PYTHONPATH": "/nonexistent"}})
        print(spark.sparkContext.getConf().get(
            "spark.executorEnv.PYTHONPATH"))
        df = spark.range(3).mapInPandas(lambda it: it, "id long")
        print(sorted(r.id for r in df.collect()))
        a = np.arange(2 * 3 * 4, dtype=np.float64).reshape(1, 1, 2, 3, 4)
        write_raw(a, "img.braw")
        img = BioImage("img.braw", spark=spark)
        print(bool((img.get_image_dataframe().toPandas()["value"]
                    .sort_values().to_numpy() == a.ravel()).all()))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split("\n")[:3] == [
        os.pathsep.join(["/nonexistent", root]), "[0, 1, 2]", "True"], \
        out.stdout
