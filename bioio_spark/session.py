"""SparkSession factory with scale-oriented defaults.

All defaults target correctness-at-scale: UTC session time (parity with the
DuckDB oracle on naive parquet timestamps), AQE on (runtime coalesce, skew-join
splitting, broadcast demotion), and Arrow for the pandas bridge used by the
ndarray materialization path.
"""

from __future__ import annotations

import os

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
}


def get_session(app_name: str = "bioio_spark", master: str | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
        except Exception:
            pass  # conf may be non-runtime-settable in some deployments
    try:
        spark._bioio_conf_applied = True
    except Exception:
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
