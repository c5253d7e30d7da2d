"""Registry plumbing for the oracle-checked query contract.

Each entry couples a Spark DataFrame builder (spark, sf_dir) -> DataFrame
with the equivalent DuckDB SQL over the same parquet tables. Column names are
aliased identically on both sides (the driver's compare sorts columns by name
before hashing). Queries with no SQL-expressible twin set oracle=None and get
the driver's weaker rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn
    return deco


#: DuckDB output types whose stringification differs from the Spark
#: column they pair with under the driver's value canonicalization —
#: the round-4 red class (uncast integer sum() -> HUGEINT renders
#: 1085.0 against Spark's 1085 and fails the hash).
_UNSTABLE_ORACLE_TYPES = ("HUGEINT", "UHUGEINT")


def lint_oracle_output_types(sf_dir: str,
                             registry: Optional[dict] = None) -> dict:
    """Registry-wide oracle dtype lint: DESCRIBE every registered
    oracle SQL in DuckDB (type inference only — no data scan) and
    return {query_name: [(column, bad_type), ...]} for any output
    column of a driver-hash-unstable type. Empty dict = clean. Every
    such column needs an explicit CAST (e.g. CAST(sum(x) AS BIGINT))
    to match Spark's type; tests/test_oracle_lint.py gates this at 0
    violations so a new query can't reintroduce the class."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict = {}
    for name, spec in (registry or REGISTRY).items():
        if not spec.oracle:
            continue
        desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        hits = [(col, typ) for col, typ, *_ in desc
                if typ.upper().split("(")[0] in _UNSTABLE_ORACLE_TYPES]
        if hits:
            bad[name] = hits
    con.close()
    return bad


def load(spark: SparkSession, sf_dir: str, *names: str):
    """Load parquet tables with engine conf applied. Returns one DataFrame
    or a tuple in the order requested.

    `events.ts` appears in two vintages of the fixtures: TIMESTAMP(NANOS)
    (which Spark's parquet reader rejects — read as raw nanos via the legacy
    nanosAsLong conf and converted with integer division; `div`, not `/`,
    because double division loses precision above 2^53, matching DuckDB's
    own ns -> us truncation) and plain TIMESTAMP(MICROS), which both engines
    read natively. The conversion is applied only when the column actually
    arrives as a long.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bioio_spark.session import ensure_engine_conf, memo

    ensure_engine_conf(spark)

    def read(path: str, n: str):
        df = spark.read.parquet(path)
        if n == "events":
            dt = df.schema["ts"].dataType
            if isinstance(dt, T.LongType):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif isinstance(dt, T.TimestampNTZType):
                # session tz is UTC, so NTZ -> TIMESTAMP is an identity
                # relabel; downstream unix_micros/window code expects the
                # tz-aware type (same as the nanos-long vintage produced)
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            if not isinstance(df.schema["ts"].dataType, T.TimestampType):
                raise TypeError(
                    f"events.ts arrived as {df.schema['ts'].dataType}; "
                    "expected a nanos-long, TIMESTAMP_NTZ, or TIMESTAMP "
                    "vintage — unknown fixture layout would silently "
                    "skew window/watermark queries")
        return _fan_out(spark, df, n)

    # DataFrames are immutable logical plans, so the loaded (and fan-out
    # adjusted) frame is memoized per (session, path) with session.memo:
    # repeat loads skip the schema read AND the rdd.getNumPartitions()
    # probe in _fan_out, which forces an RDD conversion on the driver per
    # call.
    dfs = []
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        dfs.append(memo(spark, "load", path, lambda: read(path, n)))
    return dfs[0] if len(dfs) == 1 else tuple(dfs)


# Hash-partitioning key per table for the small-input fan-out. Keys are
# chosen for downstream exchange reuse, not just uniformity: lineitem/orders
# fan out on the join key the A8 queries co-partition on; events on user_id,
# which satisfies the clustered distribution of the per-user session/dedup
# aggregations (a hash partitioning on a subset of the grouping keys is
# reusable). Keyed repartition also avoids round-robin's per-partition sort.
_FAN_OUT_KEY = {
    "orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id",
    "documents": "doc_id", "embeddings": "vec_id",
}

# Dimension tables are broadcast on the build side of every join they appear
# in — fanning them out would add an exchange that feeds a broadcast, pure
# waste; their narrow map work is trivial anyway.
_NO_FAN_OUT = {"region", "nation", "customer", "supplier", "part"}


def _fan_out(spark, df: DataFrame, name: str) -> DataFrame:
    """Spread a low-parallelism scan across the cluster's cores.

    Parquet cannot split below a row group, so a table written as one row
    group (the test fixtures; also common for small dims in real lakes)
    yields a single-task scan stage — and every narrow transform above it
    (shingling, decimal partial aggregation, tokenization) runs on ONE core.
    When the scan's parallelism is well below the cores available, one cheap
    hash exchange on the primary key fans the narrow work out. At real scale
    (many files / row groups) scan parallelism >= cores and this is a no-op,
    so the 100 TB plan never pays the extra shuffle.
    """
    if name in _NO_FAN_OUT:
        return df
    try:
        n_scan = df.rdd.getNumPartitions()
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        return df
    if n_scan * 2 > cores:
        return df
    key = _FAN_OUT_KEY.get(name)
    return df.repartition(cores, key) if key else df.repartition(cores)
