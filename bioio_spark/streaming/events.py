"""Structured Streaming surface over the events table (SURVEY §2.10).

The reference is fully batch (laziness != streaming); this module provides
the north-star streaming operators with batch-equivalent semantics so the
DuckDB-checked batch queries (queries/streaming_batch.py) double as oracles:

- tumbling/sliding window aggregates with watermark-based late-data handling
- session windows (session_window + watermark)
- stateful dedup (dropDuplicatesWithinWatermark)

Scale: each is an incremental stateful aggregation; state is partitioned by
(window/session key) across executors, watermarks bound state size, and the
sink runs in append/update mode. On a real cluster the source would be
Kafka/files; tests stream parquet files through the file source.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fallback stream schema for a directory that is still empty at stream
# definition time (a normal file-source pattern: start the stream, files
# arrive later). ts as raw nanos-long — the vintage the legacy conf yields.
_STATIC_EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def _event_schema(spark: SparkSession, path: str) -> T.StructType:
    """Streaming needs a static schema; take it from the files themselves so
    both fixture vintages work (ts as raw nanos-long or native TIMESTAMP).
    Falls back to the static nanos-long schema when the directory has no
    files yet (batch inference raises AnalysisException on empty dirs)."""
    try:
        return spark.read.parquet(path).schema
    except AnalysisException:
        return _STATIC_EVENT_SCHEMA


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of event parquet files; converts ts ns->us when the
    files store TIMESTAMP(NANOS) (read as long via the legacy conf).

    Applies the engine conf (UTC session timezone in particular) first: the
    NTZ -> timestamp relabel below is only an identity under UTC, and an
    externally created non-UTC session would otherwise time-shift windows
    and watermarks relative to the batch oracle."""
    from bioio_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    raw = (spark.readStream
           .schema(_event_schema(spark, path))
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(path))
    dt = raw.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def streaming_tumbling_counts(events: DataFrame,
                              watermark: str = "30 minutes") -> DataFrame:
    """10-minute tumbling windows; watermark bounds agg state + admits
    late data up to the delay."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def streaming_session_windows(events: DataFrame,
                              gap: str = "30 minutes",
                              watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("total_value"))
        .select("user_id",
                F.unix_timestamp(F.col("w.start"))
                .alias("session_start_epoch"),
                "n_events", "total_value")
    )


def streaming_dedup(events: DataFrame,
                    watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on (user_id, event_type) within the watermark window
    (dropDuplicatesWithinWatermark keeps the first arrival per key)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def run_stream_to_memory(df: DataFrame, query_name: str,
                         output_mode: str = "append",
                         timeout_sec: int = 120) -> DataFrame:
    """Run a streaming frame to completion against a memory sink and return
    the collected result as a batch DataFrame (test/diagnostic helper)."""
    q = (df.writeStream
         .format("memory")
         .queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_sec)
    return df.sparkSession.table(query_name)


def streaming_interval_join(purchases: DataFrame, clicks: DataFrame,
                            watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream interval join: purchases matched to the
    same user's clicks in the preceding 10 minutes.

    Both sides buffer state keyed by user_id; the watermark plus the time
    band lets Spark evict click state older than watermark + 10 min, so
    state is bounded regardless of stream length.
    """
    p = (purchases.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", watermark))
    c = (clicks.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", watermark))
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")


def streaming_interval_join_outer(purchases: DataFrame, clicks: DataFrame,
                                  watermark: str = "1 hour") -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched rows as clicks arrive, and a NULL-completed row once the
    watermark proves no click can still match (state expiry drives the
    null emission, the semantics inner joins never exercise). Both sides
    need the watermark; click state is evicted past watermark + 10 min,
    so state stays bounded."""
    p = (purchases.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", watermark))
    c = (clicks.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", watermark))
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id")


def streaming_static_enrichment(events: DataFrame, customer: DataFrame,
                                nation: DataFrame) -> DataFrame:
    """Stream-static enrichment: events joined to broadcast dimension
    tables (customer -> nation), aggregated per nation. The static side is
    re-broadcast per micro-batch (Spark re-plans the batch side each
    trigger); stream state is the |nations|-sized running aggregate —
    complete output mode, no watermark needed for a global aggregate."""
    j = (events.join(F.broadcast(customer),
                     events["user_id"] == customer["c_custkey"])
         .join(F.broadcast(nation),
               customer["c_nationkey"] == nation["n_nationkey"]))
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(10,2)"))
                 .cast("double").alias("total_value")))
