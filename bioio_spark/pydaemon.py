"""Spark's Python daemon, with zip archives re-read only when they change.

pyspark calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Before CPython 3.13 that makes every
zipimporter re-parse its archive's whole directory: pyspark.zip, the py4j
zip and the spark-core jar, ~26,700 entries per task. Workers fork from
this daemon (``spark.python.daemon.module``, set by ``get_session``), so
they inherit a guard: an importer re-reads its archive only when the
archive's ``(st_size, st_mtime_ns)`` differs from its last read, or the
stat fails. From 3.13 on the re-read is lazy and this only delegates.
"""

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the stat guard."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            self._read_stamp = stamp
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon
    daemon.manager()
