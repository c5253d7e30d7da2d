"""Batch-equivalent streaming aggregations over events (SURVEY §2.10).

Structured Streaming and batch share semantics for append-mode aggregates, so
the oracle checks run the same window logic in batch SQL. The true streaming
execution (readStream → watermark → window → sink) lives in
bioio_spark/streaming/ and is pytest-verified against these batch results.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bioio_spark.queries.base import load, register


# --------------------------------------------------------------------------
# Tumbling window aggregation. Scale: in streaming this is an incremental
# stateful agg with watermark eviction; in batch it's a plain hash agg on the
# bucketed timestamp.
# --------------------------------------------------------------------------
@register(
    "s1_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="S 10-minute tumbling window counts/sums over events",
)
def s1_tumbling_window(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Session windows (30-minute gap). Spark side uses the native session_window;
# the oracle reproduces its semantics with the gaps-and-islands pattern
# (new session when the gap since the previous event is >= the timeout;
# boundary-equality is measure-zero with microsecond data).
# --------------------------------------------------------------------------
@register(
    "s2_session_windows",
    oracle="""
    WITH gapped AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gapped
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start_epoch
    """,
    doc="S session windows (30 min gap) via native session_window",
)
def s2_session_windows(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("total_value"))
        .select("user_id",
                F.unix_timestamp(F.col("w.start"))
                .alias("session_start_epoch"),
                "n_events", "total_value")
        .orderBy("user_id", "session_start_epoch")
    )


# --------------------------------------------------------------------------
# Streaming dedup analog: first event per (user, type) — in streaming this is
# dropDuplicatesWithinWatermark; batch equivalent is a min-aggregate.
# --------------------------------------------------------------------------
@register(
    "s3_first_event_dedup",
    oracle="""
    SELECT user_id, event_type,
           min(event_id) AS first_event_id,
           count(*) AS n_events
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    doc="S stateful-dedup batch equivalent: first event per key",
)
def s3_first_event_dedup(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# Sliding window (10-minute window, 5-minute slide): each event lands in two
# overlapping windows. Spark's window() emits both assignments natively; the
# oracle unnests the two candidate window starts per event. Scale: in
# streaming this doubles state size vs tumbling — watermark eviction bounds
# it; in batch it's an explode + hash agg (no shuffle beyond the agg).
# --------------------------------------------------------------------------
@register(
    "s4_sliding_window",
    oracle="""
    WITH assigned AS (
      SELECT u.window_start, e.event_type, e.value
      FROM events e,
           unnest([time_bucket(INTERVAL '5 minutes', e.ts),
                   time_bucket(INTERVAL '5 minutes', e.ts)
                     - INTERVAL '5 minutes']) AS u(window_start)
    )
    SELECT window_start, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="S sliding-window (10min/5min) counts over events",
)
def s4_sliding_window(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Stream-stream interval join (batch equivalent): each purchase joined to
# the same user's clicks in the preceding 10 minutes. In streaming this is
# the watermarked stream-stream join (both sides buffer state bounded by
# the watermark + interval); in batch it's an equi-join on user_id with a
# time-band condition. Scale: the band predicate rides the user_id shuffle,
# so state/shuffle is per-user, never a cross join.
# --------------------------------------------------------------------------
@register(
    "s5_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    doc="S stream-stream interval join batch equivalent (purchase<-clicks)",
)
def s5_interval_join(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id"), F.col("ts").alias("p_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts")))
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")))
    # second-BOUNDARY diff (truncate each side, then subtract) — the
    # date_diff('second') semantics; diffing raw micros and flooring is off
    # by one whenever the click's sub-second fraction exceeds the
    # purchase's (caught by the sf0.1 parity run).
    gap = (F.expr("unix_micros(p_ts) div 1000000")
           - F.expr("unix_micros(c_ts) div 1000000"))
    return (joined.select(
        "purchase_id", "click_id", "user_id", gap.alias("gap_sec"))
        .orderBy("purchase_id", "click_id"))


# --------------------------------------------------------------------------
# s6: stream-static enrichment join — the standard "enrich events with a
# dimension table" streaming pattern. Static side (customer -> nation)
# broadcasts to every micro-batch; the stream side never shuffles for the
# join, and per-nation aggregation state is |nations|-sized. Batch twin
# below; true-streaming execution pytest-verified (streaming/events.py
# streaming_static_enrichment).
# --------------------------------------------------------------------------
@register(
    "s6_stream_static_enrich",
    oracle="""
    SELECT n.n_name, count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(10,2))) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    doc="S stream-static dimension enrichment join batch equivalent",
)
def s6_stream_static_enrich(spark, sf_dir):
    e, cust, nation = load(spark, sf_dir, "events", "customer", "nation")
    j = (e.join(F.broadcast(cust),
                F.col("user_id") == F.col("c_custkey"))
         .join(F.broadcast(nation),
               F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(10,2)"))
                 .cast("double").alias("total_value"))
            .orderBy("n_name"))


# --------------------------------------------------------------------------
# s7: LEFT OUTER stream-stream interval join — the batch twin of
# streaming_interval_join_outer. The semantics inner joins never
# exercise: a purchase with NO qualifying click still emits, NULL-
# completed (in streaming, that row appears only once the watermark
# proves no match can arrive — state-expiry-driven emission). At scale
# the state bound is watermark + band per key, identical to s5.
# --------------------------------------------------------------------------
@register(
    "s7_outer_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CASE WHEN c.event_id IS NULL THEN 0 ELSE 1 END AS matched
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    doc="S7 left-outer stream-stream interval join batch equivalent",
)
def s7_outer_interval_join(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id"), F.col("ts").alias("p_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts")))
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left")
    return (joined.select(
        "purchase_id", "click_id", "user_id",
        F.when(F.col("click_id").isNull(), 0).otherwise(1)
        .alias("matched"))
        .orderBy("purchase_id", "click_id"))


# --------------------------------------------------------------------------
# S8: TRUE streaming execution in the correctness gate — the only s*
# query that actually runs readStream -> mapInPandas decode -> stateful
# agg -> sink rather than a batch twin. A deterministic acquisition
# directory (6 single-digit-stem TIFFs, 3 pages of 16x20 uint16 each,
# closed-form pixel values) is ingested with the live file source; the
# oracle recomputes the per-scene stats from the value formula, so a bug
# anywhere in the streaming decode chain breaks the hash.
# --------------------------------------------------------------------------
_S8_FILES, _S8_PAGES, _S8_H, _S8_W = 6, 3, 16, 20


def _s8_fixture_dir() -> str:
    import os

    import numpy as np

    from bioio_spark.formats.tiff import encode_tiff

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "stream_ingest_fixture")
    if os.path.isdir(base) and len(os.listdir(base)) == _S8_FILES:
        return base
    os.makedirs(base, exist_ok=True)
    yy, xx = np.indices((_S8_H, _S8_W))
    for i in range(_S8_FILES):
        pages = [(i * 9000 + p * 2500 + yy * _S8_W + xx).astype(np.uint16)
                 for p in range(_S8_PAGES)]
        with open(os.path.join(base, f"scan{i}.tif"), "wb") as f:
            f.write(encode_tiff(pages))
    return base


@register(
    "s8_stream_ingest_stats",
    oracle=f"""
    WITH px AS (
      SELECT i, CAST(i * 9000 + p * 2500 + y * {_S8_W} + x AS DOUBLE)
               AS value
      FROM range({_S8_FILES}) r(i), range({_S8_PAGES}) s(p),
           range({_S8_H}) t(y), range({_S8_W}) u(x))
    SELECT 'scan' || i AS scene, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY i ORDER BY scene
    """,
    doc="S8 true-streaming acquisition ingest: readStream + decode + "
        "stateful per-scene stats, hash-checked",
)
def s8_stream_ingest_stats(spark, sf_dir):
    import time

    from bioio_spark.streaming import (bounded_stream_partitions,
                                       read_image_stream,
                                       streaming_decode_pixels,
                                       streaming_scene_stats)

    stats = streaming_scene_stats(
        streaming_decode_pixels(read_image_stream(
            spark, _s8_fixture_dir(), max_files_per_trigger=2)))
    name = f"s8_ingest_{int(time.time() * 1000) % 1_000_000}"
    with bounded_stream_partitions(spark):
        q = (stats.writeStream.format("memory").queryName(name)
             .outputMode("complete").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name).orderBy("scene")


@register(
    "s9_stream_ngff_sink",
    oracle=f"""
    WITH px AS (
      SELECT i AS t, p AS z, y, x,
             CAST(i * 9000 + p * 2500 + y * {_S8_W} + x AS DOUBLE)
               AS value
      FROM range({_S8_FILES}) r(i), range({_S8_PAGES}) s(p),
           range({_S8_H}) t(y), range({_S8_W}) u(x))
    SELECT CAST(t AS INTEGER) AS t, CAST(z AS INTEGER) AS z,
           count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, z ORDER BY t, z
    """,
    doc="S9 live-acquisition NGFF sink: readStream TIFFs -> "
        "foreachBatch Zarr chunk writes (exactly-once via "
        "deterministic chunk paths) -> reread, hash-checked",
)
def s9_stream_ngff_sink(spark, sf_dir):
    """Streams the s8 acquisition fixture into an OME-Zarr store via
    streaming_ngff_sink (chunk = one file's plane set so every chunk
    completes within one micro-batch), then reads the store back with
    the batch Zarr reader — the hash pins the full stream->store->scan
    chain. Streaming sinks are not SQL-expressible, but the SINK OUTPUT
    is deterministic, so the oracle checks the store contents."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.streaming import (read_image_stream,
                                       streaming_decode_pixels)
    from bioio_spark.streaming.ingest import streaming_ngff_sink

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "stream_ngff_sink")
    shutil.rmtree(base, ignore_errors=True)
    store = os.path.join(base, "live.zarr")
    px = (streaming_decode_pixels(read_image_stream(
              spark, _s8_fixture_dir(), max_files_per_trigger=2))
          .select(F.regexp_extract("scene", r"scan(\d+)", 1)
                  .cast("int").alias("t"),
                  F.lit(0).alias("c"), F.col("page").alias("z"),
                  "y", "x", "value"))
    from bioio_spark.streaming import bounded_stream_partitions
    with bounded_stream_partitions(spark):
        q = streaming_ngff_sink(
            px, store, shape=(_S8_FILES, 1, _S8_PAGES, _S8_H, _S8_W),
            chunks=(1, 1, _S8_PAGES, _S8_H, _S8_W),
            checkpoint=os.path.join(base, "ckpt"))
        q.awaitTermination(120)
    img = BioImage(store, reader=ZarrImageReader, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("t", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "z"))


# --------------------------------------------------------------------------
# E1: event-funnel analysis — sequenced-pattern matching (view ->
# click -> purchase, each stage strictly AFTER the previous one's
# first occurrence per user), the classic product-analytics query
# shape no plain aggregate expresses. Three user-keyed stages; every
# join and aggregate shuffles on the SAME user_id key, so AQE reuses
# one partitioning across the whole chain. Conversion ratios are
# exact integer permille (n * 1000 DIV n_prev).
# --------------------------------------------------------------------------
@register(
    "e1_event_funnel",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY e.user_id)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_view,
      (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click,
      (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_purchase,
      CASE WHEN (SELECT count(*) FROM t1) = 0 THEN NULL
           ELSE (SELECT CAST(count(*) AS BIGINT) FROM t2) * 1000
                // (SELECT count(*) FROM t1) END AS click_permille,
      CASE WHEN (SELECT count(*) FROM t2) = 0 THEN NULL
           ELSE (SELECT CAST(count(*) AS BIGINT) FROM t3) * 1000
                // (SELECT count(*) FROM t2) END AS purchase_permille
    """,
    doc="E1 event funnel (view -> click -> purchase, strictly "
        "ordered per user): sequenced-pattern analytics, one reused "
        "user_id partitioning across the stage chain",
)
def e1_event_funnel(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("user_id", "event_type",
                                             "ts")
    t1 = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (e.filter(F.col("event_type") == "click")
          .join(t1, "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (e.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    n1 = t1.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    n2 = t2.agg(F.count(F.lit(1)).cast("bigint").alias("n_click"))
    n3 = t3.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase"))
    return (n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
            .select("n_view", "n_click", "n_purchase",
                    # CASE-guarded: an empty stage yields NULL in both
                    # engines (DuckDB // raises on 0, Spark DIV nulls)
                    F.expr("CASE WHEN n_view = 0 THEN NULL ELSE "
                           "n_click * 1000 DIV n_view END")
                    .cast("bigint").alias("click_permille"),
                    F.expr("CASE WHEN n_click = 0 THEN NULL ELSE "
                           "n_purchase * 1000 DIV n_click END")
                    .cast("bigint").alias("purchase_permille")))


# E1b: the WINDOWED funnel — each stage must convert within
# FUNNEL_WINDOW_HOURS of the PRIOR stage's conversion instant (the
# form real product analytics uses: "clicked within 24h of first
# view"). Same user_id-keyed three-stage chain as e1 — one reused
# partitioning — with the window as an extra sargable predicate on the
# already-joined prior-stage timestamp; no new shuffle, no state.
FUNNEL_WINDOW_HOURS = 24


@register(
    "e1b_windowed_funnel",
    oracle=f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.t1
        AND e.ts <= t1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        AND e.ts <= t2.t2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY e.user_id)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_view,
      (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click,
      (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_purchase,
      CASE WHEN (SELECT count(*) FROM t1) = 0 THEN NULL
           ELSE (SELECT CAST(count(*) AS BIGINT) FROM t2) * 1000
                // (SELECT count(*) FROM t1) END AS click_permille,
      CASE WHEN (SELECT count(*) FROM t2) = 0 THEN NULL
           ELSE (SELECT CAST(count(*) AS BIGINT) FROM t3) * 1000
                // (SELECT count(*) FROM t2) END AS purchase_permille
    """,
    doc="E1b windowed event funnel: each stage converts within 24h of "
        "the prior stage (the production analytics form); the window "
        "is one extra predicate on the e1 chain, same single user_id "
        "partitioning",
)
def e1b_windowed_funnel(spark, sf_dir):
    w = FUNNEL_WINDOW_HOURS
    e = load(spark, sf_dir, "events").select("user_id", "event_type",
                                             "ts")
    t1 = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (e.filter(F.col("event_type") == "click")
          .join(t1, "user_id")
          .filter((F.col("ts") > F.col("t1"))
                  & (F.col("ts")
                     <= F.expr(f"t1 + INTERVAL {w} HOUR")))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (e.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter((F.col("ts") > F.col("t2"))
                  & (F.col("ts")
                     <= F.expr(f"t2 + INTERVAL {w} HOUR")))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    n1 = t1.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    n2 = t2.agg(F.count(F.lit(1)).cast("bigint").alias("n_click"))
    n3 = t3.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase"))
    return (n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
            .select("n_view", "n_click", "n_purchase",
                    F.expr("CASE WHEN n_view = 0 THEN NULL ELSE "
                           "n_click * 1000 DIV n_view END")
                    .cast("bigint").alias("click_permille"),
                    F.expr("CASE WHEN n_click = 0 THEN NULL ELSE "
                           "n_purchase * 1000 DIV n_click END")
                    .cast("bigint").alias("purchase_permille")))


# --------------------------------------------------------------------------
# S10 streaming incremental dedup: the production form of l2g. The daily
# delta arrives as a file stream; every micro-batch computes its docs'
# minhash band rows and md5 hashes BATCH-SIDE inside foreachBatch and
# appends them to a band store under a DETERMINISTIC per-group path
# (overwrite => exactly-once under retries/restarts, the s9 device); the
# final probe evaluates the l2g gates from the accumulated store. The gate
# semantics are order-independent (new-vs-new resolves by keep-lowest
# doc_id, not arrival order), so the result is identical under ANY batch
# split — and s10 hash-checks against the SAME SQL oracle as l2g, pinning
# streaming == batch.
# Scale: each micro-batch's work is O(batch); the store is the standing
# index artifact the next day's delta probes.
# --------------------------------------------------------------------------
_S10_GROUPS = 5


def _s10_fixture_dir(spark, sf_dir: str) -> str:
    """Write the sf delta (doc_id % 10 == 0) as _S10_GROUPS parquet files
    with ascending mtimes so the file stream replays them as ordered
    micro-batches (order only affects batch boundaries, not results)."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"s10_delta_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    delta = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % 10 == 0)
             .select("doc_id", "text").orderBy("doc_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S10_GROUPS):
        rows = [r for r in delta if (r["doc_id"] // 10) % _S10_GROUPS == k]
        tbl = pa.table({"doc_id": [r["doc_id"] for r in rows],
                        "text": [r["text"] for r in rows]})
        p = os.path.join(base, f"day{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_band_index(spark, delta_dir: str, store: str) -> None:
    """Stream delta parquet files; per micro-batch, compute band + md5
    rows and write them to `store` under per-group deterministic paths
    (idempotent overwrite)."""
    import os

    from bioio_spark.functions.dedup import _banded, minhash_signatures

    schema = spark.read.parquet(delta_dir).schema

    g = ((F.col("doc_id") / 10).cast("long") % _S10_GROUPS).alias("g")

    def write_batch(batch, _bid):
        # dynamic partition overwrite: a replayed batch rewrites exactly
        # its own g-partitions — exactly-once without a transaction log
        (_banded(minhash_signatures(batch)).withColumn("g", g)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "bands")))
        (batch.select("doc_id", F.md5("text").alias("h"), g)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "md5")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(delta_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.functions.dedup import (  # noqa: E402
    INCREMENTAL_DEDUP_ORACLE as _L2G_ORACLE,
)


@register(
    "s10_stream_incremental_dedup",
    oracle=_L2G_ORACLE,     # same semantics as l2g: streaming == batch
    doc="S10 streaming incremental dedup: micro-batch band-store build "
        "(exactly-once foreachBatch) + final l2g gate probe; "
        "hash-matches the l2g batch oracle",
)
def s10_stream_incremental_dedup(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.functions.dedup import incremental_flags

    delta_dir = _s10_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(delta_dir),
                         f"s10_store_{os.path.basename(delta_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_band_index(spark, delta_dir, store)

    bd = (spark.read.parquet(os.path.join(store, "bands"))
          .select("doc_id", "band", "key"))
    md5s = (spark.read.parquet(os.path.join(store, "md5"))
            .select("doc_id", "h"))
    idx = (load(spark, sf_dir, "documents")
           .filter(F.col("doc_id") % 10 != 0))
    return incremental_flags(idx, md5s.select("doc_id"), md5s, bd)




# --------------------------------------------------------------------------
# S12 streaming CORPUS-MODEL build: the strongest streaming==batch pin in
# the tier. s10/s11 pinned per-item gates; l4j's surprisal filter needs a
# GLOBAL model (corpus term frequencies) — per-batch scoring with
# batch-local models would diverge from the batch result. The device:
# term frequency is ADDITIVE, so each micro-batch writes its PARTIAL
# (word, tf, g) counts plus its document rows under the batch's
# deterministic arrival-unit partition (dynamic overwrite, exactly-once
# under replays — the s9/s10 device); the final probe sums the partials
# (== the one-pass corpus tf, exactly) and scores the stored docs through
# the SAME unigram_surprisal code with the model injected. Hash-matches
# l4j's batch oracle: an incrementally-built global model is proven equal
# to the batch model, not assumed.
# Scale: each batch's work is O(batch); the tf store is the standing
# model artifact the next ingest day extends by appending partials.
# --------------------------------------------------------------------------
_S12_GROUPS = 5


def _s12_fixture_dir(spark, sf_dir: str) -> str:
    """ALL sf documents as _S12_GROUPS parquet files with ascending
    mtimes (order shapes micro-batch boundaries only)."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"s12_docs_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S12_GROUPS):
        rows = [r for r in docs if r["doc_id"] % _S12_GROUPS == k]
        tbl = pa.table({"doc_id": [r["doc_id"] for r in rows],
                        "text": [r["text"] for r in rows]})
        p = os.path.join(base, f"part{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_lm_model_store(spark, docs_dir: str, store: str) -> None:
    """Stream document parquet files; per micro-batch, write PARTIAL
    term-frequency counts and the document rows under the batch's
    deterministic group partition (idempotent dynamic overwrite)."""
    import os

    from bioio_spark.functions.text import _words

    schema = spark.read.parquet(docs_dir).schema
    g = (F.col("doc_id") % _S12_GROUPS).cast("long").alias("g")

    def write_batch(batch, _bid):
        (batch.select("doc_id",
                      F.explode(_words(F.col("text"))).alias("word"))
         .withColumn("g", g)
         .groupBy("g", "word")
         .agg(F.count(F.lit(1)).alias("tf_part"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "tf")))
        (batch.select("doc_id", "text", g)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "docs")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(docs_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.functions.text import (  # noqa: E402
    SURPRISAL_ORACLE as _L4J_ORACLE,
)


@register(
    "s12_stream_lm_model",
    oracle=_L4J_ORACLE,   # same semantics as l4j: streaming == batch
    doc="S12 streaming corpus-model build: per-micro-batch PARTIAL "
        "term-frequency counts into an exactly-once store, summed to "
        "the exact global model, scored through l4j's own code path; "
        "hash-matches the l4j batch oracle (a GLOBAL model built "
        "incrementally proven equal to the batch model)",
)
def s12_stream_lm_model(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.functions.text import unigram_surprisal

    docs_dir = _s12_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(docs_dir),
                         f"s12_store_{os.path.basename(docs_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_lm_model_store(spark, docs_dir, store)

    tf = (spark.read.parquet(os.path.join(store, "tf"))
          .groupBy("word").agg(F.sum("tf_part").alias("tf")))
    docs = (spark.read.parquet(os.path.join(store, "docs"))
            .select("doc_id", "text"))
    return unigram_surprisal(docs, tf=tf)


# --------------------------------------------------------------------------
# S13 streaming sketch build: the CMS twin of s12. A count-min sketch is
# ADDITIVE cell-wise, so each micro-batch writes its PARTIAL (d, b)
# cell counts under the batch's deterministic arrival-unit partition
# (dynamic overwrite, exactly-once); the final probe sums the partials —
# equal to the one-pass corpus sketch EXACTLY — and runs l21's gauge
# (exact top-20 vs estimates) against it. Hash-matches the l21 batch
# oracle: the sketch a stream maintains is proven equal to the sketch a
# batch job builds. This is how a 100 TB ingest actually keeps frequency
# summaries: merge per-shard sketches, never recount.
# --------------------------------------------------------------------------
def stream_cms_store(spark, docs_dir: str, store: str) -> None:
    """Stream document parquet files; per micro-batch, write PARTIAL
    count-min cell counts plus document rows under the batch's group
    partition (idempotent dynamic overwrite)."""
    import os

    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.functions.text import _words
    from bioio_spark.queries.llm import _CMS_D, _CMS_W

    schema = spark.read.parquet(docs_dir).schema
    g = (F.col("doc_id") % _S12_GROUPS).cast("long").alias("g")

    def write_batch(batch, _bid):
        occ = batch.select(
            "doc_id", F.explode(_words(F.col("text"))).alias("word"))
        rows = F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)]))
        pos = (occ.select("doc_id", "word", rows.alias("d"))
               .select("doc_id", "d",
                       (h32_col(F.concat(F.lit("cms"),
                                         F.col("d").cast("string"),
                                         F.lit(":"), F.col("word")))
                        % _CMS_W).alias("b")))
        (pos.withColumn("g", g)
         .groupBy("g", "d", "b")
         .agg(F.count(F.lit(1)).alias("cnt_part"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "cms")))
        (batch.select("doc_id", "text", g)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "docs")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(docs_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.queries.base import REGISTRY as _REG  # noqa: E402

_L21_ORACLE = _REG["l21_cms_heavy_hitters"].oracle


@register(
    "s13_stream_cms_sketch",
    oracle=_L21_ORACLE,   # same semantics as l21: streaming == batch
    doc="S13 streaming count-min sketch build: per-micro-batch PARTIAL "
        "cell counts into an exactly-once store, summed to the exact "
        "corpus sketch, gauged with l21's exact-vs-estimate probe; "
        "hash-matches the l21 batch oracle (streaming sketch == batch "
        "sketch)",
)
def s13_stream_cms_sketch(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.functions.text import _words
    from bioio_spark.queries.llm import _CMS_D, _CMS_TOPK, _CMS_W

    docs_dir = _s12_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(docs_dir),
                         f"s13_store_{os.path.basename(docs_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_cms_store(spark, docs_dir, store)

    cms = (spark.read.parquet(os.path.join(store, "cms"))
           .groupBy("d", "b").agg(F.sum("cnt_part").alias("cnt")))
    docs = spark.read.parquet(os.path.join(store, "docs"))
    occ = docs.select(F.explode(_words(F.col("text"))).alias("word"))

    def bucket(word_col, d_col):
        return (h32_col(F.concat(F.lit("cms"), d_col.cast("string"),
                                 F.lit(":"), word_col)) % _CMS_W)

    rows = F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)]))
    exact = occ.groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    top = exact.orderBy(F.col("exact").desc(), "word").limit(_CMS_TOPK)
    est = (top.select("word", rows.alias("d"))
           .select("word", "d",
                   bucket(F.col("word"), F.col("d")).alias("b"))
           .join(F.broadcast(cms), ["d", "b"])
           .groupBy("word").agg(F.min("cnt").alias("cms_est")))
    return (top.join(est, "word")
            .select("word",
                    F.col("exact").cast("bigint").alias("exact"),
                    F.col("cms_est").cast("bigint").alias("cms_est"),
                    (F.col("cms_est") - F.col("exact")).cast("bigint")
                    .alias("over_by"))
            .orderBy(F.col("exact").desc(), "word"))


# --------------------------------------------------------------------------
# S14 streaming LATE-DATA / WATERMARK gauge: the tier pins exactly-once
# and streaming==batch for append aggregates, but nothing measures what
# the watermark DROPS. Fixture: events re-ordered across micro-batches
# by a closed formula (roughly chronological weekly batches, with a
# hashed 10% of events arriving TWO batches late). The REAL structured
# stream (withWatermark + 1-day tumbling window, update mode, dynamic
# partition overwrite per window — exactly-once) produces the engine's
# accepted count per window; the batch side recomputes the watermark
# semantics from the arrival order (per-batch max event time ->
# prefix max -> ms-floored watermark -> window_end <= watermark drop
# rule, Spark's own arithmetic) and reports per-window integers
# (n_ontime, n_late_accepted, n_dropped, n_accepted_engine). The oracle
# computes ALL FOUR from the arrival model textually — so the hash
# match PROVES the engine dropped exactly the predicted set.
# Scale: the gauge is the run report a production watermark config
# ships; the model side is two tiny aggregates over the event scan.
# --------------------------------------------------------------------------
# 3 arrival batches (r12, was 5): the two-watermark pin only needs
# lag-1 != lag-2 to be observable, which batch 2 already gives
# (pmax = max(b0,b1) vs lmax = max(b0)); every side — fixture split,
# batch model, DuckDB oracle — derives from this one constant, and two
# fewer triggers cut the stream's fixed per-trigger cost by ~40%
_S14_BATCHES = 3
_S14_DELAY_MS = 3 * 86400 * 1000          # watermark delay: 3 days
_S14_WIN_US = 86400 * 1000 * 1000         # 1-day tumbling windows
_S14_BASE = "2024-01-01"                  # events fixture epoch


def _s14_arrival_batch_col():
    """Closed-form arrival batch: weekly chronological batches, with
    h32-selected ~10% of events arriving two batches late (capped)."""
    from bioio_spark.functions.hashing import h32_col

    day_idx = F.datediff(F.col("ts").cast("date"),
                         F.lit(_S14_BASE).cast("date"))
    strag = (h32_col(F.concat(F.lit("s14:"),
                              F.col("event_id").cast("string"))) % 10
             == 0)
    return F.least(
        F.lit(_S14_BATCHES - 1),
        F.floor(day_idx / 7).cast("int")
        + F.when(strag, 2).otherwise(0)).cast("int")


def _s14_fixture_dir(spark, sf_dir: str) -> str:
    """events (event_id, ts) split into _S14_BATCHES parquet files by
    arrival batch, ascending mtimes (file order IS the batch order and,
    unlike s10/s12, here it changes what the watermark drops — which is
    the point; the formula makes it deterministic)."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".scratch",
        f"s14_events_b{_S14_BATCHES}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = (load(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("tus"),
                  _s14_arrival_batch_col().alias("g"))
          .orderBy("event_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S14_BATCHES):
        rows = [r for r in ev if r["g"] == k]
        # UTC-adjusted micros -> Spark reads TimestampType (NOT ntz,
        # which withWatermark rejects)
        tbl = pa.table({"event_id": [r["event_id"] for r in rows],
                        "ts": pa.array([r["tus"] for r in rows],
                                       type=pa.timestamp("us",
                                                         tz="UTC"))})
        p = os.path.join(base, f"arrival{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_watermark_store(spark, ev_dir: str, store: str,
                           state_partitions: int = 4) -> None:
    """The REAL watermarked stream: readStream one file per trigger,
    withWatermark 3 days, 1-day tumbling count in UPDATE mode; each
    micro-batch's updated windows overwrite their own day-partitions
    (exactly-once under replays — the s9/s10 device). Late rows beyond
    the watermark never reach the state store, so the final store IS
    the engine's accepted count per window.

    state_partitions sizes the stateful shuffle (the state-store
    partition count, frozen into the checkpoint at first trigger):
    the keyed state here is ~tens of day-windows, so 32 default
    partitions mean 32 mostly-empty HDFS-backed state stores ticking
    per trigger — pure fixed overhead. A production deployment sizes
    this to its window-key cardinality / executor count; it is a
    per-query knob, restored after start."""
    import os

    schema = spark.read.parquet(ev_dir).schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def write_batch(batch, _bid):
        (batch.withColumn(
            "wd", F.datediff(F.col("window_start").cast("date"),
                             F.lit(_S14_BASE).cast("date")))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("wd").parquet(os.path.join(store, "wins")))

    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(ev_dir)
             .withWatermark("ts", "3 days")
             .groupBy(F.window("ts", "1 day").alias("w"))
             .agg(F.count(F.lit(1)).alias("n_acc"))
             .select(F.col("w.start").alias("window_start"), "n_acc")
             .writeStream.foreachBatch(write_batch)
             .outputMode("update")
             .option("checkpointLocation", os.path.join(store, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def _s14_oracle() -> str:
    from bioio_spark.functions.hashing import h32_sql

    h = h32_sql("'s14:' || CAST(event_id AS VARCHAR)")
    return f"""
    WITH r AS (
      SELECT event_id, ts, epoch_us(ts) AS tus,
             LEAST({_S14_BATCHES - 1},
                   date_diff('day', DATE '{_S14_BASE}', ts) // 7
                   + CASE WHEN {h} % 10 = 0 THEN 2 ELSE 0 END) AS g
      FROM events),
    bm AS (SELECT g, max(tus) AS bmax FROM r GROUP BY g),
    pm AS (SELECT g,
             max(bmax) OVER (ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
             max(bmax) OVER (ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS lmax
           FROM bm),
    j AS (
      SELECT r.tus, pm.pmax, pm.lmax,
             CASE WHEN pm.lmax IS NULL THEN NULL
                  ELSE ((pm.lmax // 1000) - {_S14_DELAY_MS}) * 1000
             END AS wm
      FROM r JOIN pm USING (g)),
    f AS (
      SELECT (tus // {_S14_WIN_US}) * {_S14_WIN_US} AS ws,
             CASE WHEN lmax IS NOT NULL
                   AND (tus // {_S14_WIN_US}) * {_S14_WIN_US}
                       + {_S14_WIN_US} <= wm
                  THEN 1 ELSE 0 END AS dropped,
             CASE WHEN pmax IS NOT NULL AND tus < pmax
                  THEN 1 ELSE 0 END AS late
      FROM j)
    SELECT make_timestamp(ws) AS window_start,
           CAST(sum(1 - late) AS BIGINT) AS n_ontime,
           CAST(sum(late * (1 - dropped)) AS BIGINT) AS n_late_accepted,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(sum(1 - dropped) AS BIGINT) AS n_accepted_engine
    FROM f GROUP BY ws ORDER BY window_start
    """


@register(
    "s14_stream_watermark_gauge",
    oracle=_s14_oracle(),
    doc="S14 watermark late-data gauge: a real watermarked stream over "
        "a deterministically re-ordered arrival fixture vs the "
        "closed-form drop model — per-window n_ontime / n_late_accepted "
        "/ n_dropped, with the engine's accepted count hash-proven "
        "equal to the prediction",
)
def s14_stream_watermark_gauge(spark, sf_dir):
    import os
    import shutil

    ev_dir = _s14_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(ev_dir),
                         f"s14_store_{os.path.basename(ev_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_watermark_store(spark, ev_dir, store)

    eng = (spark.read.parquet(os.path.join(store, "wins"))
           .select(F.unix_micros("window_start").alias("ws"),
                   F.col("n_acc").cast("bigint").alias("n_eng")))

    # recompute g from the same closed formula (the file split is the
    # fixture's job; the model must stand on the formula alone)
    rows = (spark.read.parquet(ev_dir)
            .select(_s14_arrival_batch_col().alias("g"),
                    F.unix_micros("ts").alias("tus")))
    bmax = rows.groupBy("g").agg(F.max("tus").alias("bmax"))
    # Spark keeps TWO watermarks per batch (SPARK-24634 line): the
    # late-event FILTER uses the PREVIOUS batch's watermark (prefix max
    # over batches <= k-2, `lmax`), while eviction uses the current one
    # — verified against the engine: the lag-1 model over-predicts
    # drops (78 vs the engine's 31 on the sf0.001 fixture)
    w1 = (Window.orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1))
    w2 = (Window.orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -2))
    pm = (bmax.withColumn("pmax", F.max("bmax").over(w1))
          .withColumn("lmax", F.max("bmax").over(w2))
          .select("g", "pmax", "lmax"))
    j = (rows.join(F.broadcast(pm), "g")
         .withColumn("wm", (F.floor(F.col("lmax") / 1000)
                            - F.lit(_S14_DELAY_MS)) * 1000)
         .withColumn("ws", F.floor(F.col("tus") / _S14_WIN_US)
                     * _S14_WIN_US)
         .withColumn("dropped",
                     (F.col("lmax").isNotNull()
                      & (F.col("ws") + _S14_WIN_US <= F.col("wm")))
                     .cast("int"))
         .withColumn("late",
                     (F.col("pmax").isNotNull()
                      & (F.col("tus") < F.col("pmax"))).cast("int")))
    model = (j.groupBy("ws")
             .agg(F.sum(1 - F.col("late")).cast("bigint")
                  .alias("n_ontime"),
                  F.sum(F.col("late") * (1 - F.col("dropped")))
                  .cast("bigint").alias("n_late_accepted"),
                  F.sum("dropped").cast("bigint").alias("n_dropped")))
    return (model.join(eng, "ws", "left")
            .select(F.timestamp_micros("ws").alias("window_start"),
                    "n_ontime", "n_late_accepted", "n_dropped",
                    F.coalesce("n_eng", F.lit(0)).cast("bigint")
                    .alias("n_accepted_engine"))
            .orderBy("window_start"))


# --------------------------------------------------------------------------
# S15 streaming ANN CODES-TABLE maintenance: the s12/s13 device applied
# to the l3k residual-IVFADC index. A real vector store trains its
# coarse centroids + residual codebooks ONCE (on a sample) and FREEZES
# them; ingest then encodes every arriving batch against the frozen
# index and appends to the codes table — the 32x-compressed artifact
# searches scan. Here: embeddings arrive as a 5-file parquet stream,
# each micro-batch encodes batch-side via the SAME rpq_encode used by
# the batch path (one encode definition) and writes its codes under the
# batch's deterministic vec_id-partition (dynamic overwrite,
# exactly-once under replays); the final probe runs the SAME rpq_search
# over the accumulated store. Result hash-matches l3k's batch oracle —
# an incrementally-built compressed index proven equal to the batch
# index, not assumed.
# --------------------------------------------------------------------------
_S15_GROUPS = 3


def _s15_fixture_dir(spark, sf_dir: str) -> str:
    """ALL sf embeddings as _S15_GROUPS parquet files keyed by
    vec_id % groups, ascending mtimes (order shapes micro-batch
    boundaries only — encoding against a frozen index is order-free)."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"s15_emb{_S15_GROUPS}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = (load(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding", "label")
           .orderBy("vec_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S15_GROUPS):
        rows = [r for r in emb if r["vec_id"] % _S15_GROUPS == k]
        tbl = pa.table({
            "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
            "embedding": pa.array(
                [[float(v) for v in r["embedding"]] for r in rows],
                pa.list_(pa.float32())),
            "label": pa.array([r["label"] for r in rows], pa.int32()),
        })
        p = os.path.join(base, f"ingest{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_ann_codes_store(spark, emb_dir: str, store: str,
                           cents: dict, books: dict) -> None:
    """Stream embedding files; per micro-batch, encode against the
    FROZEN (cents, books) index via rpq_encode and write the codes
    rows under per-group deterministic paths (idempotent overwrite)."""
    import os

    from bioio_spark.functions.similarity import _to_double, rpq_encode

    schema = spark.read.parquet(emb_dir).schema

    def write_batch(batch, _bid):
        emb = batch.select(
            "vec_id", "label",
            _to_double(F.col("embedding")).alias("e"))
        coded = rpq_encode(emb, cents, books)
        (coded.withColumn("g", F.col("vec_id") % _S15_GROUPS)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "codes")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(emb_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.functions.similarity import (  # noqa: E402
    IVF_RPQ_ORACLE as _L3K_ORACLE,
)


@register(
    "s15_stream_ann_codes",
    oracle=_L3K_ORACLE,     # same semantics as l3k: streaming == batch
    doc="S15 streaming IVFADC codes-table maintenance: frozen index, "
        "per-micro-batch rpq_encode into an exactly-once partitioned "
        "store, final rpq_search over the accumulated codes — "
        "hash-matches the l3k batch oracle (streaming index == batch "
        "index)",
)
def s15_stream_ann_codes(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.functions.similarity import (IVF_SAMPLE_MOD,
                                                  N_CENTROIDS,
                                                  _to_double,
                                                  _train_ivf,
                                                  _train_rpq,
                                                  rpq_query_luts,
                                                  rpq_search)

    emb = (load(spark, sf_dir, "embeddings")
           .select("vec_id", "label",
                   _to_double(F.col("embedding")).alias("e")))
    # the frozen index (trained once, session-cached — shared with l3k,
    # same constants so the l3k oracle stays the streaming pin)
    cents = _train_ivf(emb, N_CENTROIDS, IVF_SAMPLE_MOD,
                       cache_key=sf_dir)
    books = _train_rpq(emb, cents, cache_key=sf_dir)

    emb_dir = _s15_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(emb_dir),
                         f"s15_store_{os.path.basename(emb_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_ann_codes_store(spark, emb_dir, store, cents, books)

    coded = spark.read.parquet(os.path.join(store, "codes"))
    q_rows = emb.filter(F.col("vec_id") == 2).select("e").collect()
    q = [float(v) for v in q_rows[0]["e"]]
    probe_ids, luts = rpq_query_luts(q, cents, books)
    return rpq_search(coded, luts, probe_ids, query_vec_id=2, k=10)


# --------------------------------------------------------------------------
# E2 retention cohorts — the classic product-analytics shape next to the
# e1 funnel: users grouped by their FIRST-activity week (the cohort),
# then counted per (cohort, weeks-since-cohort) activity cell — the
# triangle matrix a retention dashboard renders. All integer (epoch-day
# week indices), two hash aggregates + one broadcast-sized cohort join;
# at 100 TB the (user, week) dedup is the only wide op and it partial-
# aggregates map-side on the same user_id key the cohort join reuses.
# --------------------------------------------------------------------------
@register(
    "e2_retention_cohorts",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '{_S14_BASE}', ts) // 7 AS week
      FROM events),
    cohort AS (SELECT user_id, min(week) AS cw FROM uw GROUP BY user_id)
    SELECT CAST(c.cw AS INT) AS cohort_week,
           CAST(uw.week - c.cw AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM uw JOIN cohort c USING (user_id)
    GROUP BY c.cw, uw.week - c.cw
    ORDER BY cohort_week, week_offset
    """,
    doc="E2 retention cohort matrix: users bucketed by first-activity "
        "week x weeks-since-cohort, integer week indices, "
        "one (user, week) dedup + cohort join + cell count",
)
def e2_retention_cohorts(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"),
                   F.lit(_S14_BASE).cast("date")) / 7).cast("long")
    uw = e.select("user_id", week.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cw"))
    return (uw.join(cohort, "user_id")
            .groupBy(F.col("cw").cast("int").alias("cohort_week"),
                     (F.col("week") - F.col("cw")).cast("int")
                     .alias("week_offset"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
            .orderBy("cohort_week", "week_offset"))


# --------------------------------------------------------------------------
# S16 stream-stream JOIN STATE gauge (round 12): s14 gauges what the
# watermark drops for AGGREGATES; this gauges the interval join's state
# machine — the production risk s5 carries at 100 TB is unbounded join
# state, and the whole point of the watermark + band is that state stays
# bounded WITHOUT losing pairs the contract still owes. Same device as
# s14: the real watermarked stream over the deterministic arrival
# fixture, against a closed-form model of (a) which join pairs the
# engine can still produce and (b) exactly how many rows each side's
# state holds per micro-batch (verified against the engine's own
# stateOperators metrics).
#
# The model was fitted to the engine (sf0.001 AND sf0.01, exact match
# on pairs, per-batch state totals, and eviction counts) and pins THREE
# engine behaviors:
#   1. the raw late-INPUT filter uses the lag-2 watermark W(k-2) on
#      both sides (the SPARK-24634 two-watermark semantics, same as
#      s14's aggregate finding);
#   2. the RIGHT side (clicks) skips storing input rows that cannot
#      match future left rows (ct < W(k-1) - band) — but such rows
#      STILL join against the left state first (left inputs are fully
#      processed before right inputs, so nothing future is lost): an
#      engine optimization visible only because the gauge reconciles
#      pairs AND state counts simultaneously;
#   3. LEFT inputs are always stored (this batch's right inputs are
#      still to come), then evicted at batch end — eviction uses the
#      lag-1 watermark with the per-side bounds Spark derives from the
#      band condition: purchases at p_ts < W, clicks at c_ts < W - band.
# --------------------------------------------------------------------------
_S16_BAND_HOURS = 48
_S16_BAND_US = _S16_BAND_HOURS * 3600 * 1000 * 1000


def _s16_fixture_dir(spark, sf_dir: str) -> str:
    """purchase/click events split into _S14_BATCHES parquet files by
    the s14 arrival formula (weekly chronological batches, hashed ~10%
    arriving two batches late), ascending mtimes, with user_id and
    event_type carried for the join."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".scratch",
        f"s16_events_b{_S14_BATCHES}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("purchase", "click"))
          .select("event_id", "user_id", "event_type",
                  F.unix_micros("ts").alias("tus"),
                  _s14_arrival_batch_col().alias("g"))
          .orderBy("event_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S14_BATCHES):
        rows = [r for r in ev if r["g"] == k]
        tbl = pa.table({
            "event_id": pa.array([r["event_id"] for r in rows],
                                 pa.int64()),
            "user_id": pa.array([r["user_id"] for r in rows],
                                pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows]),
            "ts": pa.array([r["tus"] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })
        p = os.path.join(base, f"arrival{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_join_pairs_store(spark, ev_dir: str, store: str,
                            state_partitions: int = 4) -> list:
    """The REAL watermarked stream-stream interval join: purchases
    joined to the same user's clicks in the preceding _S16_BAND_HOURS,
    one arrival file per trigger, both sides watermarked 3 days. Each
    micro-batch's pairs land under their deterministic batch partition
    (g = batch id — replays from an empty checkpoint reprocess the
    same files in the same order, so overwrite is idempotent: the
    s12/s15 exactly-once device). Returns the per-batch
    (batch_id, state_total, state_removed) engine metrics from the
    query's own progress reports — the numbers the model must equal."""
    import json
    import os

    schema = spark.read.parquet(ev_dir).schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def write_batch(batch, bid):
        (batch.withColumn("g", F.lit(int(bid)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "pairs")))

    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(ev_dir))
        ps = (src.filter(F.col("event_type") == "purchase")
              .select(F.col("event_id").alias("purchase_id"),
                      "user_id", F.col("ts").alias("p_ts"))
              .withWatermark("p_ts", "3 days"))
        cs = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(ev_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "3 days"))
        j = ps.join(
            cs,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts")
               >= F.col("p_ts") - F.expr(f"INTERVAL {_S16_BAND_HOURS} "
                                         f"HOURS"))
            & (F.col("c_ts") <= F.col("p_ts")))
        q = (j.writeStream.foreachBatch(write_batch)
             .option("checkpointLocation", os.path.join(store, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    metrics = []
    for p in q.recentProgress:
        d = json.loads(str(p))
        so = d.get("stateOperators") or [{}]
        metrics.append((int(d["batchId"]),
                        int(so[0].get("numRowsTotal", 0)),
                        int(so[0].get("numRowsRemoved", 0))))
    return metrics


def _s16_oracle() -> str:
    """Everything closed-form from the arrival formula: per-side
    per-batch prefix maxima -> the global ms-floored watermark W(k) ->
    the three pinned rules -> per-batch pair and state counts. The
    engine columns are computed FROM THE MODEL (the s14 device): a
    hash match proves the engine produced exactly the predicted pairs
    and held exactly the predicted state."""
    from bioio_spark.functions.hashing import h32_sql

    h = h32_sql("'s14:' || CAST(event_id AS VARCHAR)")
    d = _S14_DELAY_MS * 1000
    b = _S16_BAND_US
    nb = _S14_BATCHES
    return f"""
    WITH r AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
             LEAST({nb - 1},
                   date_diff('day', DATE '{_S14_BASE}', ts) // 7
                   + CASE WHEN {h} % 10 = 0 THEN 2 ELSE 0 END) AS g
      FROM events WHERE event_type IN ('purchase', 'click')),
    bm AS (SELECT g, event_type, max(tus) AS m FROM r
           GROUP BY g, event_type),
    ks AS (SELECT unnest(generate_series(0, {nb - 1})) AS k),
    sp AS (SELECT ks.k, bm.event_type, max(bm.m) AS pm
           FROM ks JOIN bm ON bm.g <= ks.k
           GROUP BY ks.k, bm.event_type),
    wk AS (SELECT k, (min(pm) // 1000) * 1000 - {d} AS w
           FROM sp GROUP BY k HAVING count(*) = 2),
    p AS (SELECT event_id AS pe, user_id, tus AS pt, g AS gp
          FROM r WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS ce, user_id, tus AS ct, g AS gc
          FROM r WHERE event_type = 'click'),
    truth AS (
      SELECT pe, ce, pt, ct, gp, gc, GREATEST(gp, gc) AS k
      FROM p JOIN c USING (user_id)
      WHERE ct BETWEEN pt - {b} AND pt),
    prod AS (
      SELECT t.* FROM truth t
      LEFT JOIN wk wp2 ON wp2.k = t.gp - 2
      LEFT JOIN wk wc2 ON wc2.k = t.gc - 2
      LEFT JOIN wk wc1 ON wc1.k = t.gc - 1
      WHERE (wp2.w IS NULL OR t.pt >= wp2.w)
        AND (wc2.w IS NULL OR t.ct >= wc2.w)
        AND (t.gp >= t.gc OR wc2.w IS NULL OR t.pt >= wc2.w)
        AND (t.gc >= t.gp
             OR ((wp2.w IS NULL OR t.ct >= wp2.w - {b})
                 AND (wc1.w IS NULL OR t.ct >= wc1.w - {b})))),
    batches AS (SELECT unnest(generate_series(0, {nb})) AS g),
    pair_counts AS (
      SELECT b.g,
             (SELECT count(*) FROM prod WHERE prod.k = b.g)
               AS n_pairs_model,
             (SELECT count(*) FROM truth WHERE truth.k = b.g)
             - (SELECT count(*) FROM prod WHERE prod.k = b.g)
               AS n_lost_model
      FROM batches b),
    praw AS (SELECT p.pe, p.pt, p.gp FROM p
             LEFT JOIN wk wf ON wf.k = p.gp - 2
             WHERE wf.w IS NULL OR p.pt >= wf.w),
    craw AS (SELECT c.ce, c.ct, c.gc FROM c
             LEFT JOIN wk wf ON wf.k = c.gc - 2
             WHERE wf.w IS NULL OR c.ct >= wf.w),
    cadd AS (SELECT cr.ce, cr.ct, cr.gc FROM craw cr
             LEFT JOIN wk wg ON wg.k = cr.gc - 1
             WHERE wg.w IS NULL OR cr.ct >= wg.w - {b}),
    wevict AS (SELECT b.g, wk.w FROM batches b
               LEFT JOIN wk ON wk.k = b.g - 1),
    state AS (
      SELECT w.g,
             count(CASE WHEN s.side = 'p'
                         AND (w.w IS NULL OR s.t >= w.w) THEN 1
                        WHEN s.side = 'c'
                         AND (w.w IS NULL OR s.t >= w.w - {b}) THEN 1
                   END) AS total
      FROM wevict w
      LEFT JOIN (SELECT 'p' AS side, pt AS t, gp AS g0 FROM praw
                 UNION ALL
                 SELECT 'c' AS side, ct AS t, gc AS g0 FROM cadd) s
        ON s.g0 <= w.g
      GROUP BY w.g),
    added AS (
      SELECT b.g,
             (SELECT count(*) FROM praw WHERE praw.gp = b.g)
           + (SELECT count(*) FROM cadd WHERE cadd.gc = b.g)
               AS n_added
      FROM batches b)
    SELECT CAST(s.g AS INT) AS g,
           CAST(pc.n_pairs_model AS BIGINT) AS n_pairs_model,
           CAST(pc.n_pairs_model AS BIGINT) AS n_pairs_engine,
           CAST(pc.n_lost_model AS BIGINT) AS n_lost_model,
           CAST(s.total AS BIGINT) AS state_rows_model,
           CAST(s.total AS BIGINT) AS state_rows_engine,
           CAST(COALESCE(lag(s.total) OVER (ORDER BY s.g), 0)
                + a.n_added - s.total AS BIGINT)
             AS state_removed_model,
           CAST(COALESCE(lag(s.total) OVER (ORDER BY s.g), 0)
                + a.n_added - s.total AS BIGINT)
             AS state_removed_engine
    FROM state s JOIN pair_counts pc ON pc.g = s.g
    JOIN added a ON a.g = s.g
    ORDER BY g
    """


@register(
    "s16_stream_join_state_gauge",
    oracle=_s16_oracle(),
    doc="S16 stream-stream join state gauge: real watermarked interval "
        "join over the deterministic arrival fixture vs a closed-form "
        "model of produced pairs AND per-batch state rows/evictions — "
        "pins the lag-2 late filter, the right-side storage-skip "
        "optimization, and the per-side eviction bounds",
)
def s16_stream_join_state_gauge(spark, sf_dir):
    import os
    import shutil

    ev_dir = _s16_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(ev_dir),
                         f"s16_store_{os.path.basename(ev_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    metrics = stream_join_pairs_store(spark, ev_dir, store)
    eng_state = spark.createDataFrame(
        [(g, t, r) for g, t, r in metrics],
        "g int, state_rows_engine bigint, state_removed_engine bigint")
    eng_pairs = (spark.read.parquet(os.path.join(store, "pairs"))
                 .groupBy(F.col("g").cast("int").alias("g"))
                 .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_pairs_engine")))

    # ---- the closed-form model, mirrored from the oracle ----
    d_us = _S14_DELAY_MS * 1000
    b_us = _S16_BAND_US
    nb = _S14_BATCHES
    r = (spark.read.parquet(ev_dir)
         .select("event_id", "user_id", "event_type",
                 F.unix_micros("ts").alias("tus"),
                 _s14_arrival_batch_col().alias("g")))
    bm = (r.groupBy("g", "event_type").agg(F.max("tus").alias("m")))
    ks = spark.range(nb).select(F.col("id").cast("int").alias("k"))
    sp = (ks.join(F.broadcast(bm), F.col("g") <= F.col("k"))
          .groupBy("k", "event_type").agg(F.max("m").alias("pm")))
    wk = (sp.groupBy("k")
          .agg(F.min("pm").alias("mn"), F.count(F.lit(1)).alias("ns"))
          .filter(F.col("ns") == 2)
          .select("k", (F.floor(F.col("mn") / 1000) * 1000
                        - F.lit(d_us)).alias("w")))
    p = (r.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pe"), "user_id",
                 F.col("tus").alias("pt"), F.col("g").alias("gp")))
    c = (r.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("ce"),
                 F.col("user_id").alias("c_user"),
                 F.col("tus").alias("ct"), F.col("g").alias("gc")))
    from bioio_spark.session import hold
    truth = (p.join(c, (F.col("user_id") == F.col("c_user"))
                    & (F.col("ct") >= F.col("pt") - b_us)
                    & (F.col("ct") <= F.col("pt")))
             .select("pe", "ce", "pt", "ct", "gp", "gc",
                     F.greatest("gp", "gc").alias("k"))
             .persist())
    hold(spark, "s16", truth)
    wkb = F.broadcast(wk)
    jt = (truth
          .join(wkb.select(F.col("k").alias("_kp2"),
                           F.col("w").alias("wp2")),
                F.col("_kp2") == F.col("gp") - 2, "left")
          .join(wkb.select(F.col("k").alias("_kc2"),
                           F.col("w").alias("wc2")),
                F.col("_kc2") == F.col("gc") - 2, "left")
          .join(wkb.select(F.col("k").alias("_kc1"),
                           F.col("w").alias("wc1")),
                F.col("_kc1") == F.col("gc") - 1, "left"))
    produced = jt.filter(
        (F.col("wp2").isNull() | (F.col("pt") >= F.col("wp2")))
        & (F.col("wc2").isNull() | (F.col("ct") >= F.col("wc2")))
        & ((F.col("gp") >= F.col("gc")) | F.col("wc2").isNull()
           | (F.col("pt") >= F.col("wc2")))
        & ((F.col("gc") >= F.col("gp"))
           | ((F.col("wp2").isNull()
               | (F.col("ct") >= F.col("wp2") - b_us))
              & (F.col("wc1").isNull()
                 | (F.col("ct") >= F.col("wc1") - b_us)))))
    batches = spark.range(nb + 1).select(
        F.col("id").cast("int").alias("g"))
    n_model = (produced.groupBy(F.col("k").alias("g"))
               .agg(F.count(F.lit(1)).alias("n_pairs_model")))
    n_truth = (truth.groupBy(F.col("k").alias("g"))
               .agg(F.count(F.lit(1)).alias("n_truth")))

    # state model: per batch g, survivors = raw-passing rows of g' <= g
    # above the eviction bound at W(g-1); clicks additionally gated on
    # storage at arrival (dominated by the eviction bound, kept for
    # fidelity to the pinned rule)
    sides = (r.join(wkb.select(F.col("k").alias("_kf"),
                               F.col("w").alias("wf")),
                    F.col("_kf") == F.col("g") - 2, "left")
             .filter(F.col("wf").isNull()
                     | (F.col("tus") >= F.col("wf")))
             .select("event_type", "tus", "g"))
    surv = (batches.alias("b")
            .join(wkb.select(F.col("k").alias("_ke"),
                             F.col("w").alias("we")),
                  F.col("_ke") == F.col("g") - 1, "left")
            .join(sides.select(F.col("event_type").alias("ty"),
                               "tus", F.col("g").alias("rg")),
                  F.col("rg") <= F.col("g"))
            .filter(F.col("we").isNull()
                    | ((F.col("ty") == "purchase")
                       & (F.col("tus") >= F.col("we")))
                    | ((F.col("ty") == "click")
                       & (F.col("tus") >= F.col("we") - b_us)))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("state_rows_model")))
    added = (batches.alias("b")
             .join(wkb.select(F.col("k").alias("_ke"),
                              F.col("w").alias("we")),
                   F.col("_ke") == F.col("g") - 1, "left")
             .join(sides.select(F.col("event_type").alias("ty"),
                                "tus", F.col("g").alias("rg")),
                   F.col("rg") == F.col("g"), "left")
             .filter(F.col("rg").isNull()
                     | (F.col("ty") == "purchase")
                     | F.col("we").isNull()
                     | (F.col("tus") >= F.col("we") - b_us))
             .groupBy("g")
             .agg(F.sum(F.when(F.col("rg").isNotNull(), 1)
                        .otherwise(0)).alias("n_added")))
    win = Window.orderBy("g")
    model = (batches
             .join(n_model, "g", "left")
             .join(n_truth, "g", "left")
             .join(surv, "g", "left")
             .join(added, "g", "left")
             .select("g",
                     F.coalesce("n_pairs_model", F.lit(0))
                     .cast("bigint").alias("n_pairs_model"),
                     (F.coalesce("n_truth", F.lit(0))
                      - F.coalesce("n_pairs_model", F.lit(0)))
                     .cast("bigint").alias("n_lost_model"),
                     F.coalesce("state_rows_model", F.lit(0))
                     .cast("bigint").alias("state_rows_model"),
                     F.coalesce("n_added", F.lit(0)).alias("n_added"))
             .withColumn(
                 "state_removed_model",
                 (F.coalesce(F.lag("state_rows_model").over(win),
                             F.lit(0))
                  + F.col("n_added")
                  - F.col("state_rows_model")).cast("bigint")))
    return (model
            .join(eng_pairs, "g", "left")
            .join(F.broadcast(eng_state), "g", "left")
            .select("g", "n_pairs_model",
                    F.coalesce("n_pairs_engine", F.lit(0))
                    .cast("bigint").alias("n_pairs_engine"),
                    "n_lost_model", "state_rows_model",
                    F.coalesce("state_rows_engine", F.lit(0))
                    .cast("bigint").alias("state_rows_engine"),
                    "state_removed_model",
                    F.coalesce("state_removed_engine", F.lit(0))
                    .cast("bigint").alias("state_removed_engine"))
            .orderBy("g"))


# --------------------------------------------------------------------------
# E3 sessionization (round 12): the third leg of the product-analytics
# family (e1 funnel, e2r retention) — per-user SESSION WINDOWS with a
# 30-minute inactivity gap, computed by Spark's NATIVE session_window
# grouping (the engine merges events into sessions inside the user_id
# hash aggregate — no lag-window self-join, no second shuffle), proven
# equal to the declarative gaps-and-islands form the oracle runs.
# Semantics pinned: an event extends the session iff it lands STRICTLY
# before start + gap (a gap of exactly 30 min starts a new session),
# and session_end = last event + gap. Scale: one user_id shuffle; the
# per-key merge is linear in the user's events — the shape that at
# 100 TB beats any window-function sessionization (which would sort
# twice: once for lag, once for the island sum).
# --------------------------------------------------------------------------
_E3_GAP_MIN = 30


@register(
    "e3_sessionization",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts)
                       >= INTERVAL {_E3_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {_E3_GAP_MIN} MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
             AS total_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="E3 per-user sessionization: Spark's NATIVE session_window "
        "grouping (30-min inactivity gap, single user_id shuffle) "
        "hash-proven equal to the gaps-and-islands declarative form",
)
def e3_sessionization(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (e.groupBy(
                "user_id",
                F.session_window("ts", f"{_E3_GAP_MIN} minutes")
                .alias("w"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(10,2)"))
                 .cast("double").alias("total_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "total_value")
            .orderBy("user_id", "session_start"))


# --------------------------------------------------------------------------
# S17 streaming SESSION-WINDOW emission gauge (round 12): e3's native
# session_window run as a REAL append-mode stream over the late-arrival
# fixture. Append mode only emits a session once the watermark proves
# no event can still extend it — so the store is the engine's answer to
# "which sessions are FINAL, and when did each become final". The
# closed-form model reproduces the emitted set ROW-EXACTLY (verified at
# sf0.001 and sf0.01): late events are dropped by the lag-2 watermark
# (the s14/s16 SPARK-24634 pin, third operator family it holds for),
# sessions form by gaps-and-islands over the SURVIVING events, and a
# session emits at the first batch whose (lag-1) watermark reaches its
# end. Sessions whose end the final watermark never reaches stay
# pending forever — the append-mode cost a production pipeline must
# budget (pinned by test).
# --------------------------------------------------------------------------
def _s17_fixture_dir(spark, sf_dir: str) -> str:
    """ALL events (event_id, user_id, ts) split by the s14 arrival
    formula into _S14_BATCHES files, ascending mtimes."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".scratch",
        f"s17_events_b{_S14_BATCHES}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.unix_micros("ts").alias("tus"),
                  _s14_arrival_batch_col().alias("g"))
          .orderBy("event_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S14_BATCHES):
        rows = [r for r in ev if r["g"] == k]
        tbl = pa.table({
            "event_id": pa.array([r["event_id"] for r in rows],
                                 pa.int64()),
            "user_id": pa.array([r["user_id"] for r in rows],
                                pa.int64()),
            "ts": pa.array([r["tus"] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })
        p = os.path.join(base, f"arrival{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_session_store(spark, ev_dir: str, store: str,
                         state_partitions: int = 4) -> None:
    """Append-mode session_window stream: per micro-batch, the
    FINALIZED sessions land under their deterministic batch partition
    (append emissions are immutable, so per-batch dynamic overwrite is
    exactly-once under replay — the s12/s15/s16 device)."""
    import os

    schema = spark.read.parquet(ev_dir).schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def write_batch(batch, bid):
        (batch.withColumn("g", F.lit(int(bid)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "sessions")))

    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(ev_dir)
             .withWatermark("ts", "3 days")
             .groupBy("user_id",
                      F.session_window("ts", f"{_E3_GAP_MIN} minutes")
                      .alias("w"))
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select("user_id",
                     F.col("w.start").alias("session_start"),
                     F.col("w.end").alias("session_end"),
                     "n_events")
             .writeStream.foreachBatch(write_batch)
             .outputMode("append")
             .option("checkpointLocation", os.path.join(store, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def _s17_oracle() -> str:
    from bioio_spark.functions.hashing import h32_sql

    h = h32_sql("'s14:' || CAST(event_id AS VARCHAR)")
    d = _S14_DELAY_MS * 1000
    gap = _E3_GAP_MIN * 60 * 1000 * 1000
    nb = _S14_BATCHES
    return f"""
    WITH r AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             LEAST({nb - 1},
                   date_diff('day', DATE '{_S14_BASE}', ts) // 7
                   + CASE WHEN {h} % 10 = 0 THEN 2 ELSE 0 END) AS g
      FROM events),
    bm AS (SELECT g, max(tus) AS m FROM r GROUP BY g),
    ks AS (SELECT unnest(generate_series(0, {nb - 1})) AS k),
    wk AS (SELECT ks.k, (max(bm.m) // 1000) * 1000 - {d} AS w
           FROM ks JOIN bm ON bm.g <= ks.k GROUP BY ks.k),
    surv AS (SELECT r.user_id, r.tus, r.g FROM r
             LEFT JOIN wk wf ON wf.k = r.g - 2
             WHERE wf.w IS NULL OR r.tus >= wf.w),
    o AS (
      SELECT user_id, tus, g,
             CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
                                            ORDER BY tus)
                       >= {gap} THEN 1 ELSE 0 END AS brk
      FROM surv),
    s AS (
      SELECT user_id, tus, g,
             sum(brk) OVER (PARTITION BY user_id ORDER BY tus
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    sess AS (
      SELECT user_id, sid, min(tus) AS ss, max(tus) + {gap} AS se,
             count(*) AS n, max(g) AS gmax
      FROM s GROUP BY user_id, sid),
    batches AS (SELECT unnest(generate_series(0, {nb})) AS g),
    em AS (
      SELECT sess.user_id, sess.ss, sess.se, sess.n,
             min(b.g) AS gem
      FROM sess
      JOIN batches b ON b.g >= sess.gmax
      JOIN wk we ON we.k = b.g - 1 AND we.w >= sess.se
      GROUP BY sess.user_id, sess.sid, sess.ss, sess.se, sess.n)
    SELECT user_id,
           make_timestamp(ss) AS session_start,
           make_timestamp(se) AS session_end,
           CAST(n AS BIGINT) AS n_events,
           CAST(gem AS INT) AS g_emit
    FROM em ORDER BY user_id, session_start
    """


@register(
    "s17_stream_session_emit",
    oracle=_s17_oracle(),
    doc="S17 append-mode session_window emission gauge: the real "
        "watermarked session stream's finalized-session store proven "
        "ROW-EXACTLY equal to the closed-form model (lag-2 late "
        "filter, islands over surviving events, emission at the first "
        "batch whose watermark reaches the session end)",
)
def s17_stream_session_emit(spark, sf_dir):
    import os
    import shutil

    ev_dir = _s17_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(ev_dir),
                         f"s17_store_{os.path.basename(ev_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_session_store(spark, ev_dir, store)
    return (spark.read.parquet(os.path.join(store, "sessions"))
            .select("user_id", "session_start", "session_end",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    F.col("g").cast("int").alias("g_emit"))
            .orderBy("user_id", "session_start"))


# --------------------------------------------------------------------------
# S18 streaming HLL maintenance (round 12): the s13 sketch-by-merging
# device applied to l24's cardinality sketch. Each micro-batch writes
# its PARTIAL per-bucket register maxima under the batch's
# deterministic group partition (exactly-once dynamic overwrite); the
# final sketch is the per-bucket MAX over the partials — max is
# associative/commutative/idempotent, so the merged stream sketch is
# BIT-EQUAL to the batch sketch however the arrival split the corpus,
# and the query hash-matches l24's own oracle (streaming == batch for
# the cardinality tier). Idempotence matters doubly here: a replayed
# batch re-contributes the same maxima, so even double-merging is
# harmless — the strongest exactly-once story in the sketch family.
# --------------------------------------------------------------------------
def stream_hll_store(spark, docs_dir: str, store: str) -> None:
    """Stream document parquet files; per micro-batch, write partial
    per-bucket register maxima under the batch's group partition."""
    import os

    from bioio_spark.queries.llm import _hll_registers

    schema = spark.read.parquet(docs_dir).schema

    def write_batch(batch, _bid):
        from bioio_spark.functions.hashing import h32_col
        from bioio_spark.queries.llm import _HLL_SUFFIX_BITS

        part = (batch.select((F.col("doc_id") % _S12_GROUPS)
                             .cast("long").alias("g"), "text"))
        # per-(g, bucket) partials: one narrow projection + hash agg
        h = h32_col(F.concat(F.lit("hll:"), F.md5(F.col("text"))))
        rho = (F.when(F.col("v") == 0, _HLL_SUFFIX_BITS + 1)
               .otherwise(F.lit(_HLL_SUFFIX_BITS + 1)
                          - F.length(F.bin(F.col("v")))))
        (part.select("g",
                     F.floor(h / F.lit(1 << _HLL_SUFFIX_BITS))
                     .cast("int").alias("bucket"),
                     (h % F.lit(1 << _HLL_SUFFIX_BITS)).alias("v"))
         .select("g", "bucket", rho.alias("rho"))
         .groupBy("g", "bucket").agg(F.max("rho").alias("mj_part"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "regs")))
        # no docs copy: the sketch IS the store's artifact (64 rows of
        # partials per batch); the exact-count gauge side reads the
        # same fixture files the stream consumed

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(docs_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.queries.llm import HLL_ORACLE as _HLL_ORACLE  # noqa: E402


@register(
    "s18_stream_hll_distinct",
    oracle=_HLL_ORACLE,
    doc="S18 streaming HLL maintenance: per-micro-batch partial "
        "register maxima merged by per-bucket max (associative + "
        "idempotent) — the streamed sketch hash-matches l24's batch "
        "oracle (streaming == batch for the cardinality tier)",
)
def s18_stream_hll_distinct(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.queries.llm import (_HLL_ALPHA, _HLL_M,
                                         _HLL_SUFFIX_BITS)

    docs_dir = _s12_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(docs_dir),
                         f"s18_store_{os.path.basename(docs_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_hll_store(spark, docs_dir, store)

    regs = (spark.read.parquet(os.path.join(store, "regs"))
            .groupBy("bucket").agg(F.max("mj_part").alias("mj")))
    docs = spark.read.parquet(docs_dir)
    s = (regs.agg(
        (F.sum(F.expr(f"shiftleft(1L, {_HLL_SUFFIX_BITS + 1} - mj)"))
         + (F.lit(_HLL_M) - F.count(F.lit(1)))
         * F.lit(1 << (_HLL_SUFFIX_BITS + 1))).cast("bigint")
        .alias("s"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).cast("bigint")
        .alias("n_zero")))
    ex = docs.agg(F.countDistinct(F.md5("text")).cast("bigint")
                  .alias("n_exact"))
    est = F.floor(F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M
                  * (1 << (_HLL_SUFFIX_BITS + 1)) / F.col("s")
                  ).cast("bigint")
    return (s.crossJoin(F.broadcast(ex))
            .select(F.lit(_HLL_M).cast("int").alias("m"),
                    "n_exact",
                    F.col("n_zero").alias("n_zero_registers"),
                    est.alias("hll_est"),
                    (F.abs(est - F.col("n_exact")) * 1000
                     / F.col("n_exact")).cast("bigint")
                    .alias("err_permille")))


# --------------------------------------------------------------------------
# S21 streaming bottom-k quantile maintenance (round 13): the s18
# sketch-by-merging device applied to l30's distribution sketch. Each
# micro-batch keeps its LOCAL bottom-k (v, h) rows and writes them
# under the batch's deterministic group partition (exactly-once
# dynamic overwrite); the final sketch is the bottom-k over the union
# of the partials. Correct because bottom-k is a semilattice merge:
# any row in the global bottom-k is in its own batch's bottom-k, so
# merging per-batch bottom-ks loses nothing — the streamed sample is
# SET-EQUAL to the batch sample however arrival split the corpus, and
# the query hash-matches l30's own oracle (streaming == batch for the
# distribution tier). Replay is idempotent: a re-run batch recomputes
# the same k rows and overwrites identical bytes. State per batch is
# k rows, independent of arrival volume.
# --------------------------------------------------------------------------
_S21_GROUPS = 5


def _s21_fixture_dir(spark, sf_dir: str) -> str:
    """ALL sf lineitem rows as _S21_GROUPS parquet files (split by
    l_orderkey % groups — arbitrary; merge must be split-invariant)
    with ascending mtimes."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"s21_lineitem_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = (load(spark, sf_dir, "lineitem")
           .select("l_orderkey", "l_linenumber", "l_extendedprice")
           .toPandas())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(_S21_GROUPS):
        part = pdf[pdf["l_orderkey"] % _S21_GROUPS == k]
        p = os.path.join(base, f"part{k}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_bottomk_store(spark, rows_dir: str, store: str) -> None:
    """Stream lineitem parquet files; per micro-batch, write the
    batch's local bottom-k (v, h) rows under its group partition."""
    import os

    from bioio_spark.queries.llm import _BK_K, _bk_sample, _bk_vals

    schema = spark.read.parquet(rows_dir).schema

    def write_batch(batch, _bid):
        # group key from the rows themselves (constant per file by
        # fixture construction), so a replayed batch overwrites only
        # its own partition with identical bytes
        g = (F.col("l_orderkey") % _S21_GROUPS).cast("long").alias("g")
        samp = _bk_sample(_bk_vals(batch, extra=(g,)), _BK_K)
        (samp.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "partials")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(rows_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


from bioio_spark.queries.llm import (  # noqa: E402
    BK_QUANTILES_ORACLE as _BK_ORACLE,
)


@register(
    "s21_stream_bottomk_quantiles",
    oracle=_BK_ORACLE,
    doc="S21 streaming bottom-k quantile maintenance: per-micro-batch "
        "local bottom-k partials merged by a final bottom-k "
        "(semilattice — the streamed sample is set-equal to the batch "
        "sample for any arrival split), hash-matching l30's batch "
        "oracle; state per batch is k rows regardless of volume",
)
def s21_stream_bottomk_quantiles(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.queries.llm import (_BK_K, _BK_QS,
                                         _bk_quantile_report,
                                         _bk_sample, _bk_vals)

    rows_dir = _s21_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(rows_dir),
                         f"s21_store_{os.path.basename(rows_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_bottomk_store(spark, rows_dir, store)

    partials = (spark.read.parquet(os.path.join(store, "partials"))
                .select("v", "h"))
    samp = _bk_sample(partials, _BK_K).select("v")
    full = _bk_vals(spark.read.parquet(rows_dir)).select("v")
    return _bk_quantile_report(samp, full, _BK_QS)


# --------------------------------------------------------------------------
# S19 streaming DEDUP-STATE gauge (round 12): exact dedup is the first
# operator every pipeline runs, and its streaming form lives or dies
# by state: `dropDuplicates([id])` under a watermark looks bounded but
# ISN'T — Spark only evicts dedup state when the event-time column is
# part of the dedup key (pinned by test: the id-only variant's state
# grows monotonically to |corpus| and numRowsRemoved stays 0 forever).
# This gauge runs the BOUNDED form, dropDuplicates([id, ts]), over a
# fixture where every event arrives TWICE (hash-chosen 1 or 2 batches
# apart) and hash-proves two things against the closed-form model:
# (1) state is evicted exactly at the watermark (per-batch rows/
# removals equal the model), and (2) NO duplicate is ever re-admitted
# — provably: the eviction a batch-k arrival can observe is bounded by
# W(k-2), which is EXACTLY the late-input filter bound, so any
# duplicate whose key was already evicted is itself filtered as late.
# Bounded state and exact dedup are simultaneous, not a trade-off —
# THE design fact a 100 TB streaming dedup rests on.
# --------------------------------------------------------------------------
def _s19_fixture_dir(spark, sf_dir: str) -> str:
    """(event_id, ts) instances: the original at its week batch
    (capped at _S14_BATCHES - 1, NO stragglers — duplication is the
    subject here), plus ONE duplicate 1 or 2 batches later
    (h32-chosen), capped at the last batch. Ascending mtimes."""
    import os
    import time

    from bioio_spark.functions.hashing import h32_col

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".scratch",
        f"s19_events_b{_S14_BATCHES}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    nb = _S14_BATCHES
    ev = (load(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("tus"),
                  F.least(F.lit(nb - 1), F.floor(
                      F.datediff(F.col("ts").cast("date"),
                                 F.lit(_S14_BASE).cast("date")) / 7)
                      .cast("int")).alias("g1"),
                  (h32_col(F.concat(F.lit("s19:"),
                                    F.col("event_id").cast("string")))
                   % 2 + 1).alias("d"))
          .withColumn("g2", F.least(F.lit(nb - 1),
                                    F.col("g1") + F.col("d")))
          .orderBy("event_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(nb):
        ids, ts = [], []
        for r in ev:
            if r["g1"] == k:
                ids.append(r["event_id"])
                ts.append(r["tus"])
            if r["g2"] == k:
                ids.append(r["event_id"])
                ts.append(r["tus"])
        tbl = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))})
        p = os.path.join(base, f"arrival{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_dedup_store(spark, ev_dir: str, store: str,
                       keys=("event_id", "ts"),
                       state_partitions: int = 4) -> list:
    """The real watermarked streaming dedup: emitted (first-seen) rows
    land under their deterministic batch partition; returns per-batch
    (batch_id, state_total, state_removed) engine metrics."""
    import json
    import os

    schema = spark.read.parquet(ev_dir).schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def write_batch(batch, bid):
        (batch.withColumn("g", F.lit(int(bid)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "emitted")))

    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(ev_dir)
             .withWatermark("ts", "3 days")
             .dropDuplicates(list(keys))
             .writeStream.foreachBatch(write_batch)
             .outputMode("append")
             .option("checkpointLocation", os.path.join(store, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    metrics = []
    for p in q.recentProgress:
        d = json.loads(str(p))
        so = d.get("stateOperators") or [{}]
        metrics.append((int(d["batchId"]),
                        int(so[0].get("numRowsTotal", 0)),
                        int(so[0].get("numRowsRemoved", 0))))
    return metrics


def _s19_oracle() -> str:
    from bioio_spark.functions.hashing import h32_sql

    h = h32_sql("'s19:' || CAST(event_id AS VARCHAR)")
    d = _S14_DELAY_MS * 1000
    nb = _S14_BATCHES
    return f"""
    WITH base AS (
      SELECT event_id, epoch_us(ts) AS tus,
             LEAST({nb - 1},
                   date_diff('day', DATE '{_S14_BASE}', ts) // 7)
               AS g1,
             {h} % 2 + 1 AS dd
      FROM events),
    inst AS (
      SELECT event_id, tus, g1 AS g, 0 AS is_dup FROM base
      UNION ALL
      SELECT event_id, tus, LEAST({nb - 1}, g1 + dd) AS g, 1 AS is_dup
      FROM base),
    bm AS (SELECT g, max(tus) AS m FROM inst GROUP BY g),
    ks AS (SELECT unnest(generate_series(0, {nb - 1})) AS k),
    wk AS (SELECT ks.k, (max(bm.m) // 1000) * 1000 - {d} AS w
           FROM ks JOIN bm ON bm.g <= ks.k GROUP BY ks.k),
    batches AS (SELECT unnest(generate_series(0, {nb})) AS g),
    -- instance classification at its arrival batch
    cls AS (
      SELECT i.g, i.is_dup,
             CASE WHEN wf.w IS NOT NULL AND i.tus < wf.w
                  THEN 1 ELSE 0 END AS late
      FROM inst i LEFT JOIN wk wf ON wf.k = i.g - 2),
    arr AS (
      SELECT b.g,
             (SELECT count(*) FROM cls WHERE cls.g = b.g)
               AS n_arrivals,
             (SELECT count(*) FROM cls
              WHERE cls.g = b.g AND late = 1) AS n_late,
             (SELECT count(*) FROM cls
              WHERE cls.g = b.g AND is_dup = 0) AS n_emitted
      FROM batches b),
    -- state after batch g: originals arrived <= g with ts >= W(g-1)
    wevict AS (SELECT b.g, wk.w FROM batches b
               LEFT JOIN wk ON wk.k = b.g - 1),
    state AS (
      SELECT w.g,
             count(CASE WHEN w.w IS NULL OR b2.tus >= w.w
                   THEN 1 END) AS total
      FROM wevict w LEFT JOIN base b2 ON b2.g1 <= w.g
      GROUP BY w.g)
    SELECT CAST(s.g AS INT) AS g,
           CAST(a.n_arrivals AS BIGINT) AS n_arrivals,
           CAST(a.n_late AS BIGINT) AS n_late_dropped_model,
           CAST(a.n_arrivals - a.n_late - a.n_emitted AS BIGINT)
             AS n_suppressed_model,
           CAST(a.n_emitted AS BIGINT) AS n_emitted_model,
           CAST(a.n_emitted AS BIGINT) AS n_emitted_engine,
           CAST(s.total AS BIGINT) AS state_rows_model,
           CAST(s.total AS BIGINT) AS state_rows_engine,
           CAST(COALESCE(lag(s.total) OVER (ORDER BY s.g), 0)
                + a.n_emitted - s.total AS BIGINT)
             AS state_removed_model,
           CAST(COALESCE(lag(s.total) OVER (ORDER BY s.g), 0)
                + a.n_emitted - s.total AS BIGINT)
             AS state_removed_engine
    FROM state s JOIN arr a ON a.g = s.g
    ORDER BY g
    """


@register(
    "s19_stream_dedup_state_gauge",
    oracle=_s19_oracle(),
    doc="S19 streaming dedup state gauge: dropDuplicates([id, ts]) "
        "over a twice-arriving fixture — per-batch emissions, "
        "suppressions, late drops, state rows and evictions all "
        "hash-proven equal to the closed-form model; bounded state "
        "with provably zero duplicate readmission",
)
def s19_stream_dedup_state_gauge(spark, sf_dir):
    import os
    import shutil

    ev_dir = _s19_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(ev_dir),
                         f"s19_store_{os.path.basename(ev_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    metrics = stream_dedup_store(spark, ev_dir, store)
    eng_state = spark.createDataFrame(
        [(g, t, r) for g, t, r in metrics],
        "g int, state_rows_engine bigint, state_removed_engine bigint")
    eng_emit = (spark.read.parquet(os.path.join(store, "emitted"))
                .groupBy(F.col("g").cast("int").alias("g"))
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("n_emitted_engine")))

    # ---- closed-form model, mirrored from the oracle ----
    from bioio_spark.functions.hashing import h32_col

    d_us = _S14_DELAY_MS * 1000
    nb = _S14_BATCHES
    base = (load(spark, sf_dir, "events")
            .select("event_id", F.unix_micros("ts").alias("tus"),
                    F.least(F.lit(nb - 1), F.floor(
                        F.datediff(F.col("ts").cast("date"),
                                   F.lit(_S14_BASE).cast("date")) / 7)
                        .cast("int")).alias("g1"),
                    (h32_col(F.concat(F.lit("s19:"),
                                      F.col("event_id").cast("string")))
                     % 2 + 1).alias("dd")))
    inst = (base.select("tus", F.col("g1").alias("g"),
                        F.lit(0).alias("is_dup"))
            .unionAll(base.select(
                "tus",
                F.least(F.lit(nb - 1),
                        F.col("g1") + F.col("dd")).alias("g"),
                F.lit(1).alias("is_dup"))))
    from bioio_spark.session import hold
    inst = inst.persist()
    hold(spark, "s19", inst)
    bm = inst.groupBy("g").agg(F.max("tus").alias("m"))
    ks = spark.range(nb).select(F.col("id").cast("int").alias("k"))
    wk = (ks.join(F.broadcast(bm), F.col("g") <= F.col("k"))
          .groupBy("k")
          .agg((F.floor(F.max("m") / 1000) * 1000
                - F.lit(d_us)).alias("w")))
    wkb = F.broadcast(wk)
    cls = (inst.join(wkb.select(F.col("k").alias("_kf"),
                                F.col("w").alias("wf")),
                     F.col("_kf") == F.col("g") - 2, "left")
           .select("g", "is_dup",
                   F.when(F.col("wf").isNotNull()
                          & (F.col("tus") < F.col("wf")), 1)
                   .otherwise(0).alias("late")))
    batches = spark.range(nb + 1).select(
        F.col("id").cast("int").alias("g"))
    arr = (batches
           .join(cls.groupBy("g").agg(
               F.count(F.lit(1)).alias("n_arrivals"),
               F.sum("late").alias("n_late"),
               F.sum(1 - F.col("is_dup")).alias("n_emitted")),
               "g", "left")
           .select("g",
                   F.coalesce("n_arrivals", F.lit(0))
                   .alias("n_arrivals"),
                   F.coalesce("n_late", F.lit(0)).alias("n_late"),
                   F.coalesce("n_emitted", F.lit(0))
                   .alias("n_emitted")))
    state = (batches.alias("b")
             .join(wkb.select(F.col("k").alias("_ke"),
                              F.col("w").alias("we")),
                   F.col("_ke") == F.col("g") - 1, "left")
             .join(base.select("tus", F.col("g1").alias("rg")),
                   F.col("rg") <= F.col("g"), "left")
             .filter(F.col("rg").isNull() | F.col("we").isNull()
                     | (F.col("tus") >= F.col("we")))
             .groupBy("g")
             .agg(F.sum(F.when(F.col("rg").isNotNull(), 1)
                        .otherwise(0)).alias("total")))
    win = Window.orderBy("g")
    model = (arr.join(state, "g")
             .withColumn("state_removed",
                         (F.coalesce(F.lag("total").over(win),
                                     F.lit(0))
                          + F.col("n_emitted") - F.col("total"))))
    return (model
            .join(eng_emit, "g", "left")
            .join(F.broadcast(eng_state), "g", "left")
            .select(
                "g",
                F.col("n_arrivals").cast("bigint").alias("n_arrivals"),
                F.col("n_late").cast("bigint")
                .alias("n_late_dropped_model"),
                (F.col("n_arrivals") - F.col("n_late")
                 - F.col("n_emitted")).cast("bigint")
                .alias("n_suppressed_model"),
                F.col("n_emitted").cast("bigint")
                .alias("n_emitted_model"),
                F.coalesce("n_emitted_engine", F.lit(0))
                .cast("bigint").alias("n_emitted_engine"),
                F.col("total").cast("bigint")
                .alias("state_rows_model"),
                F.coalesce("state_rows_engine", F.lit(0))
                .cast("bigint").alias("state_rows_engine"),
                F.col("state_removed").cast("bigint")
                .alias("state_removed_model"),
                F.coalesce("state_removed_engine", F.lit(0))
                .cast("bigint").alias("state_removed_engine"))
            .orderBy("g"))


# --------------------------------------------------------------------------
# E4 Markov transition matrix (round 13): the fourth product-analytics
# leg (e1 funnel, e2r retention, e3 sessions) — per-user event-type
# transition counts, the input to next-action prediction and anomaly
# baselining. One lead() window per user (ordered by ts with event_id
# as the deterministic tie-break), one (from, to) hash aggregate, one
# broadcast total for integer permille shares. Scale: the window sorts
# each user's events inside the user_id shuffle partition — the same
# single-shuffle shape e3 pins — and the transition matrix is at most
# |types|^2 rows however large the corpus.
# --------------------------------------------------------------------------
_E4_ORACLE = """
    WITH nxt AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
      FROM events),
    t AS (SELECT from_type, to_type, count(*) AS n
          FROM nxt WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type),
    tot AS (SELECT sum(n) AS s FROM t)
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * 1000 // tot.s AS BIGINT) AS permille
    FROM t CROSS JOIN tot
    ORDER BY n DESC, from_type, to_type
    """


@register(
    "e4_markov_transitions",
    oracle=_E4_ORACLE,
    doc="E4 per-user event-type transition matrix: lead() window with "
        "(ts, event_id) deterministic ordering, (from, to) counts and "
        "integer permille shares — next-action modeling input, "
        "bounded |types|^2 output",
)
def e4_markov_transitions(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (e.select(F.col("event_type").alias("from_type"),
                    F.lead("event_type").over(w).alias("to_type"))
           .filter(F.col("to_type").isNotNull()))
    t = (nxt.groupBy("from_type", "to_type")
         .agg(F.count(F.lit(1)).alias("n")))
    tot = t.agg(F.sum("n").alias("s"))
    return (t.crossJoin(F.broadcast(tot))
            .select("from_type", "to_type",
                    F.col("n").cast("bigint").alias("n"),
                    F.expr("CAST(n * 1000 div s AS BIGINT)")
                    .alias("permille"))
            .orderBy(F.col("n").desc(), "from_type", "to_type"))


# --------------------------------------------------------------------------
# E5 dense resample + gap fill (round 13): the time-series
# regularization every monitoring/feature pipeline runs before
# modeling — event streams are IRREGULAR, models want a REGULAR grid.
# Hourly buckets per event_type over the global [min, max] hour span:
# missing cells are materialized (n_events = 0, is_gap = 1) and the
# value column is forward-filled per type with last-non-null
# (IGNORE NULLS window — identical semantics both engines, leading
# gap coalesced to 0). Value sums ride as exact integer cents.
#
# Scale shape: ONE partial-combining (type, hour) hash agg over the
# events scan; the grid is |types| x |hours| — a broadcast cross of
# two TINY frames (dimension-sized, never data-sized) — so the left
# join shuffles only the aggregated cells; the forward-fill window
# partitions by type over grid-sized (not event-sized) rows. At
# 100 TB the grid is still |types| x |hours|.
# --------------------------------------------------------------------------
E5_ORACLE = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v_cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS mn,
             date_trunc('hour', max(ts)) AS mx
      FROM events
    ),
    hrs AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
              AS hr FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT t.event_type, h.hr
             FROM types t CROSS JOIN hrs h),
    j AS (
      SELECT g.event_type, g.hr, hh.n, hh.v_cents
      FROM grid g LEFT JOIN hourly hh
        ON hh.event_type = g.event_type AND hh.hr = g.hr
    )
    SELECT event_type, hr,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(last_value(v_cents IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY hr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0) AS BIGINT) AS ffill_cents,
           CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_gap
    FROM j ORDER BY event_type, hr
    """


@register(
    "e5_dense_resample",
    oracle=E5_ORACLE,
    doc="E5 dense hourly resample + gap fill: materialize the full "
        "|types| x |hours| grid (broadcast cross of two tiny "
        "dimension frames), zero-fill counts, forward-fill exact "
        "integer-cent value sums per type with a last-non-null "
        "window — the irregular-events -> regular-grid step every "
        "feature pipeline runs",
)
def e5_dense_resample(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum(F.floor(F.col("value") * 100 + 0.5))
                   .cast("bigint").alias("v_cents")))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"))
    hrs = bounds.select(F.explode(F.expr(
        "sequence(mn, mx, interval 1 hour)")).alias("hr"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hrs))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(hourly, ["event_type", "hr"], "left")
            .select("event_type", "hr",
                    F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_events"),
                    F.coalesce(F.last("v_cents", ignorenulls=True)
                               .over(w), F.lit(0)).cast("bigint")
                    .alias("ffill_cents"),
                    F.col("n").isNull().cast("int").alias("is_gap"))
            .orderBy("event_type", "hr"))


# --------------------------------------------------------------------------
# E6 robust grid anomalies (round 13): the monitoring op the e5 grid
# exists to feed — flag hours whose event count deviates from the
# type's TYPICAL level by more than 3 robust spreads. Median/MAD, not
# mean/stddev, because anomalies are exactly what corrupt the mean
# (the classic leave-the-outlier-out-of-the-yardstick argument), and
# both are EXACT integer lower-median rank statistics (the l30 cum
# device, no interpolation — DuckDB's median() interpolates halves,
# so both engines compute the rank statistic explicitly). mad = 0
# degenerates to "any deviation flags", the standard behavior.
#
# Scale shape: composes on the e5 grid (|types| x |hours| rows, never
# data-sized); two bounded cum-count windows per type (distinct
# counts, then distinct deviations) + broadcast joins of the
# per-type 1-row stats. The oracle textually embeds the e5 CTE (the
# l15 no-drift device), so the composition is hash-checked end-to-end.
# --------------------------------------------------------------------------
def _median_by_type(df, col):
    """Per-type exact lower median of integer column `col` via the
    cum-count device: min value whose cumulative count reaches
    ceil(total/2)."""
    cnt = (df.groupBy("event_type", col)
           .agg(F.count(F.lit(1)).alias("c")))
    w = (Window.partitionBy("event_type").orderBy(col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cnt.select("event_type", F.col(col).alias("v"),
                     F.sum("c").over(w).alias("cum"))
    tot = (df.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("tot")))
    return (cum.join(F.broadcast(tot), "event_type")
            .filter(F.col("cum") >= F.expr("(tot + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min("v").cast("bigint").alias("med")))


E6_ORACLE = f"""
    WITH grid AS ({E5_ORACLE.replace('ORDER BY event_type, hr', '')}),
    mcnt AS (SELECT event_type, n_events AS v, count(*) AS c
             FROM grid GROUP BY 1, 2),
    mcum AS (SELECT event_type, v,
                    sum(c) OVER (PARTITION BY event_type
                                 ORDER BY v) AS cum
             FROM mcnt),
    mtot AS (SELECT event_type, count(*) AS tot
             FROM grid GROUP BY 1),
    med AS (
      SELECT m.event_type, CAST(min(m.v) AS BIGINT) AS med
      FROM mcum m JOIN mtot t USING (event_type)
      WHERE m.cum >= (t.tot + 1) // 2 GROUP BY m.event_type
    ),
    dev AS (
      SELECT g.event_type, g.hr, g.n_events,
             abs(g.n_events - d.med) AS ad, d.med
      FROM grid g JOIN med d USING (event_type)
    ),
    dcnt AS (SELECT event_type, ad AS v, count(*) AS c
             FROM dev GROUP BY 1, 2),
    dcum AS (SELECT event_type, v,
                    sum(c) OVER (PARTITION BY event_type
                                 ORDER BY v) AS cum
             FROM dcnt),
    mad AS (
      SELECT m.event_type, CAST(min(m.v) AS BIGINT) AS mad
      FROM dcum m JOIN mtot t USING (event_type)
      WHERE m.cum >= (t.tot + 1) // 2 GROUP BY m.event_type
    )
    SELECT d.event_type, d.hr,
           CAST(d.n_events AS BIGINT) AS n_events,
           d.med, a.mad,
           CAST(d.ad AS BIGINT) AS abs_dev
    FROM dev d JOIN mad a USING (event_type)
    WHERE d.ad > 3 * a.mad
    ORDER BY d.event_type, d.hr
    """


@register(
    "e6_grid_anomalies",
    oracle=E6_ORACLE,
    doc="E6 robust grid anomalies composed on the e5 hourly grid: "
        "per-type exact integer lower-median and MAD via the "
        "cum-count rank-statistic device (no interpolation, no "
        "float), flag hours with |n - med| > 3*MAD — median/MAD "
        "because anomalies corrupt mean/stddev yardsticks",
)
def e6_grid_anomalies(spark, sf_dir):
    grid = e5_dense_resample(spark, sf_dir).select(
        "event_type", "hr", "n_events")
    med = _median_by_type(grid, "n_events")
    dev = (grid.join(F.broadcast(med), "event_type")
           .withColumn("ad", F.abs(F.col("n_events") - F.col("med"))))
    mad = (_median_by_type(dev.select("event_type",
                                      F.col("ad").alias("adv")), "adv")
           .select("event_type", F.col("med").alias("mad")))
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(F.col("ad") > 3 * F.col("mad"))
            .select("event_type", "hr",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    "med", "mad",
                    F.col("ad").cast("bigint").alias("abs_dev"))
            .orderBy("event_type", "hr"))


# --------------------------------------------------------------------------
# S20 streaming transition counts (round 13): e4's Markov matrix built
# INCREMENTALLY by a custom stateful operator — the §2.10 surface the
# built-in windows can't express, because a transition spans
# micro-batches (the last event of batch k pairs with the first event
# of batch k+1). applyInPandasWithState keeps ONE row of state per
# user (last ts/event_id/type — bounded by |users|, no watermark
# needed); each trigger sorts its per-user Arrow batch by the batch
# contract's (ts, event_id) order, prepends the carried state, and
# emits the new transitions. The arrival fixture is CHRONOLOGICAL
# (weekly batches, no stragglers), so the per-batch sort + carry
# reproduces e4's global per-user order exactly — the gauge's oracle
# IS e4's batch SQL verbatim: streaming == batch, driver-pinned.
# Exactly-once: emissions land under their deterministic batch
# partition (the s12/s15 idempotent-replay device).
# --------------------------------------------------------------------------
def _s20_fixture_dir(spark, sf_dir: str) -> str:
    """(event_id, user_id, event_type, ts) split into _S14_BATCHES
    chronological weekly parquet files (week capped at the last
    batch), ascending mtimes — no late arrivals: cross-batch per-user
    order equals global (ts, event_id) order."""
    import os
    import time

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".scratch",
        f"s20_events_b{_S14_BATCHES}_{tag}")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq

    nb = _S14_BATCHES
    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type",
                  F.unix_micros("ts").alias("tus"),
                  F.least(F.lit(nb - 1), F.floor(
                      F.datediff(F.col("ts").cast("date"),
                                 F.lit(_S14_BASE).cast("date")) / 7)
                      .cast("int")).alias("g"))
          .orderBy("event_id").collect())
    os.makedirs(base, exist_ok=True)
    now = time.time()
    for k in range(nb):
        rows = [r for r in ev if r["g"] == k]
        tbl = pa.table({
            "event_id": pa.array([r["event_id"] for r in rows],
                                 pa.int64()),
            "user_id": pa.array([r["user_id"] for r in rows],
                                pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows]),
            "ts": pa.array([r["tus"] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })
        p = os.path.join(base, f"arrival{k}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + k, now + k))
    with open(done, "w") as f:
        f.write("ok")
    return base


_S20_OUT_SCHEMA = "user_id long, from_type string, to_type string"
_S20_STATE_SCHEMA = "last_tus long, last_eid long, last_type string"


def _s20_transitions_fn(key, pdfs, state):
    # called once per (user, micro-batch) — ~1500 groups/trigger at
    # sf0.1, so per-call pandas overhead IS the operator's cost (guide
    # §4.2: measured 1.33 -> 0.17 ms/call). numpy lexsort replaces the
    # DataFrame mergesort (both stable; (tus, event_id) is a total
    # order in the fixture so the sort is unique either way) and the
    # iloc[-1] row materialization.
    import numpy as np
    import pandas as pd

    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True)
    tus = rows["tus"].to_numpy()
    eid = rows["event_id"].to_numpy()
    order = np.lexsort((eid, tus))
    types = rows["event_type"].to_numpy()[order].tolist()
    last_i = int(order[-1])
    if state.exists:
        _lt, _le, last_type = state.get
        types = [last_type] + types
    state.update((int(tus[last_i]), int(eid[last_i]), str(types[-1])))
    yield pd.DataFrame({
        "user_id": [key[0]] * (len(types) - 1),
        "from_type": types[:-1],
        "to_type": types[1:],
    })


def stream_transitions_store(spark, ev_dir: str, store: str,
                             state_partitions: int = 4) -> None:
    """The real incremental transition stream: one arrival file per
    trigger, per-user carry state, emissions partitioned by batch id
    (idempotent replay)."""
    import os

    schema = spark.read.parquet(ev_dir).schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def write_batch(batch, bid):
        (batch.withColumn("g", F.lit(int(bid)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(os.path.join(store, "trans")))

    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
        from pyspark.sql.streaming.state import GroupStateTimeout

        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(ev_dir)
               .select("event_id", "user_id", "event_type",
                       F.unix_micros("ts").alias("tus")))
        q = (src.groupBy("user_id")
             .applyInPandasWithState(
                 _s20_transitions_fn,
                 outputStructType=_S20_OUT_SCHEMA,
                 stateStructType=_S20_STATE_SCHEMA,
                 outputMode="append",
                 timeoutConf=GroupStateTimeout.NoTimeout)
             .writeStream.foreachBatch(write_batch)
             .option("checkpointLocation", os.path.join(store, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


@register(
    "s20_stream_transitions",
    oracle=_E4_ORACLE,
    doc="S20 incremental Markov transitions: applyInPandasWithState "
        "carries each user's last event across micro-batches (bounded "
        "one-row-per-user state), per-batch (ts, event_id) sort + "
        "carry reproduces the global order over the chronological "
        "arrival fixture — the gauge's oracle is e4's batch SQL "
        "verbatim, so streaming == batch is driver-pinned",
)
def s20_stream_transitions(spark, sf_dir):
    import os
    import shutil

    ev_dir = _s20_fixture_dir(spark, sf_dir)
    store = os.path.join(os.path.dirname(ev_dir),
                         f"s20_store_{os.path.basename(ev_dir)}")
    shutil.rmtree(store, ignore_errors=True)
    stream_transitions_store(spark, ev_dir, store)
    emitted = spark.read.parquet(os.path.join(store, "trans"))
    t = (emitted.groupBy("from_type", "to_type")
         .agg(F.count(F.lit(1)).alias("n")))
    tot = t.agg(F.sum("n").alias("s"))
    return (t.crossJoin(F.broadcast(tot))
            .select("from_type", "to_type",
                    F.col("n").cast("bigint").alias("n"),
                    F.expr("CAST(n * 1000 div s AS BIGINT)")
                    .alias("permille"))
            .orderBy(F.col("n").desc(), "from_type", "to_type"))
