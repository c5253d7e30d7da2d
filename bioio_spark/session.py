"""SparkSession factory with scale-oriented defaults.

All defaults target correctness-at-scale: UTC session time (parity with the
DuckDB oracle on naive parquet timestamps), AQE on (runtime coalesce, skew-join
splitting, broadcast demotion), and Arrow for the pandas bridge used by the
ndarray materialization path.

Python workers fork from ``bioio_spark.pydaemon`` (``spark.python.daemon.
module``). pyspark calls ``importlib.invalidate_caches()`` at the start of
every task, and before CPython 3.13 that re-parses the whole directory of
pyspark.zip, the py4j zip and the spark-core jar each time (0.1-0.6 s per
task); the daemon re-reads an archive only when its size or mtime changed.
So every Python worker must import bioio_spark, as the library's own
Python UDFs already must. ``get_session`` sees to it wherever the driver
runs: a local session's workers get the package's parent directory on
their PYTHONPATH (``spark.executorEnv.PYTHONPATH``, after any value the
caller set); any other session gets the package shipped once with
``addPyFile`` (``ship_package``). A cluster's workers start the daemon
before any shipped file arrives, so there the distribution must be
installed on them.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# Defaults chosen for the local[N] harness; on a real cluster, shuffle
# partitions are governed by AQE (advisory target) rather than a fixed count.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # opt-in for pushFilters on Python DataSources (the bioio_raw reader
    # prunes plane-file partitions from pushed predicates)
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate re-derives `size(arr) > 0` filters ahead of
    # explode() and pushes them below projections with full expression
    # substitution — for computed arrays (shingles) that re-evaluates the
    # whole lambda per row in the scan filter (measured 3-7x slowdowns).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # both fixture vintages of events.ts readable: TIMESTAMP(NANOS) arrives
    # as a raw long (converted in queries/base.load), MICROS natively
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.python.daemon.module": "bioio_spark.pydaemon",
}


def _package_parent() -> str:
    """The directory the running bioio_spark package is imported from."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(app_name: str = "bioio_spark", master: str | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied, whose
    Python workers import bioio_spark (see the module docstring)."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(
            p for p in (conf.get(key), _package_parent()) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make bioio_spark importable by the session's Python workers: a
    session whose workers already have the package's parent on their
    PYTHONPATH needs nothing; any other (a cluster master, or a session
    built elsewhere, whose executor env can't change once it runs) gets
    the package as an ``addPyFile`` zip, once per SparkContext."""
    sc = spark.sparkContext
    paths = sc.getConf().get("spark.executorEnv.PYTHONPATH", "") or ""
    if _package_parent() in paths.split(os.pathsep) or getattr(
            sc, "_bioio_pyfiles_shipped", False):
        return
    import shutil
    import tempfile

    archive = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), "bioio_spark_pkg"), "zip",
        root_dir=_package_parent(), base_dir="bioio_spark")
    sc.addPyFile(archive)
    sc._bioio_pyfiles_shipped = True


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The driver harness constructs its own SparkSession; queries route through
    this so timezone/AQE parity holds regardless of who built the session.
    Memoized per session object: query hot paths (load, read_event_stream)
    call this on every invocation, and repeated conf.set calls both cost RPC
    round trips and can invalidate planner caches mid-session.
    """
    if getattr(spark, "_bioio_conf_applied", False):
        return spark
    for k in ("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.optimizer.excludedRules",
              "spark.sql.legacy.parquet.nanosAsLong"):
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except AnalysisException:
            pass  # CANNOT_MODIFY_(STATIC_)CONFIG: the deployment fixes it
    try:
        spark._bioio_conf_applied = True
    except AttributeError:
        pass  # exotic session proxies may reject attributes; just re-apply
    return spark


# -- session-state registry ---------------------------------------------------
# Everything the library keeps alive across calls on one session — trained
# indexes, memoized frames, persisted blocks an operator pins until its next
# call — lives in ONE attribute on the session object, as
# {namespace: {key: value}}. A sibling session (spark.newSession()) is a
# different Python object, so it neither sees nor releases these entries.

def _state(spark: SparkSession) -> dict:
    return spark.__dict__.setdefault("_bioio_state", {})


def _frames(value) -> list:
    """The DataFrames inside a registry value (a frame, or frames nested
    in tuples/lists); everything else (trained dicts, floats) is inert."""
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [df for v in value for df in _frames(v)]
    return []


def input_key(df: DataFrame) -> tuple:
    """A hashable identity of the data `df` reads: its plan's semantic
    hash, plus (path, size, mtime) of each local input file, so an
    equivalent plan over the same files gives the same key and a file
    rewritten in place gives another. A non-local file (s3a://, hdfs://)
    contributes its name only."""
    files = []
    for path in sorted(df.inputFiles()):
        uri = urlparse(path)
        stat = None
        if uri.scheme in ("", "file"):
            try:
                st = os.stat(unquote(uri.path))
                stat = (st.st_size, st.st_mtime_ns)
            except FileNotFoundError:
                pass  # deleted since planning: the read will say so
        files.append((path, stat))
    return (df.semanticHash(), tuple(files))


def memo(spark: SparkSession, ns: str, key, build):
    """Return the value memoized under (ns, key) on this session, calling
    `build()` once to create it. key=None builds without storing."""
    if key is None:
        return build()
    hit = _state(spark).get(ns, {})
    if key in hit:
        return hit[key]
    value = build()
    # build may itself release(spark, ns), so look the namespace up again
    _state(spark).setdefault(ns, {})[key] = value
    return value


def hold(spark: SparkSession, tag: str, *dfs: DataFrame) -> list:
    """Unpersist every frame the previous call under `tag` pinned, then
    pin `dfs`. Returns the live list, so frames persisted later in the
    same call can be appended; a session thus holds at most one call's
    cache blocks per tag. Held frames sit in namespace "hold:<tag>"."""
    ns = f"hold:{tag}"
    release(spark, ns)
    held = list(dfs)
    _state(spark)[ns] = {tag: held}
    return held


def release(spark: SparkSession, ns: str | None = None) -> None:
    """Unpersist and drop every registry entry of the session, or only
    namespace `ns`. An unpersist error propagates."""
    state = _state(spark)
    names = list(state) if ns is None else [ns]
    dropped = [state.pop(n, {}) for n in names]
    for entries in dropped:
        for df in _frames(list(entries.values())):
            df.unpersist()


def stats(spark: SparkSession) -> dict:
    """{namespace: {"entries": n, "frames": [pinned DataFrames]}}."""
    return {ns: {"entries": len(entries),
                 "frames": _frames(list(entries.values()))}
            for ns, entries in _state(spark).items()}
