"""Structured Streaming execution tests: stream the events parquet through
the file source (one file per trigger) and check streaming results equal the
batch-mode oracle queries (streaming/batch share append-mode semantics)."""

import shutil

import pytest
from pyspark.sql import functions as F

from bioio_spark.queries import REGISTRY
from bioio_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    streaming_dedup,
    streaming_session_windows,
    streaming_tumbling_counts,
)


@pytest.fixture(scope="module")
def stream_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("event_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_streaming_tumbling_equals_batch(spark, sf_dir, stream_dir):
    """Append mode emits a window only once the watermark passes its end;
    the trailing windows (within the 30-min watermark of the max event
    timestamp) are legitimately withheld when the stream ends."""
    stream = read_event_stream(spark, stream_dir)
    assert stream.isStreaming
    result = run_stream_to_memory(
        streaming_tumbling_counts(stream), "t_tumbling", "append")
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in
            REGISTRY["s1_tumbling_window"].fn(spark, sf_dir).collect()}
    assert got <= want
    max_ts = (REGISTRY["s1_tumbling_window"].fn(spark, sf_dir)
              .agg(F.max("window_start")).collect()[0][0])
    import datetime
    cutoff = max_ts - datetime.timedelta(minutes=41)
    withheld = want - got
    assert all(r[0] >= cutoff for r in withheld), withheld


def test_streaming_sessions_equal_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    result = run_stream_to_memory(
        streaming_session_windows(stream), "t_sessions", "append")
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in
            REGISTRY["s2_session_windows"].fn(spark, sf_dir).collect()}
    assert got <= want
    # everything except sessions still open within the 2h watermark arrives
    max_epoch = max(r[1] for r in want)
    withheld = want - got
    assert all(r[1] >= max_epoch - 3 * 3600 for r in withheld), withheld


def test_streaming_dedup_one_row_per_key(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    result = run_stream_to_memory(
        streaming_dedup(stream), "t_dedup", "append")
    rows = result.groupBy("user_id", "event_type").count()
    assert rows.filter(F.col("count") > 1).count() == 0
    assert result.count() == rows.count()


def test_stateful_user_totals_across_microbatches(
        spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState: split events into two files -> two
    micro-batches; per-user state must carry across triggers so the LAST
    emission per user equals the batch groupBy aggregate."""
    import pandas as pd

    from bioio_spark.streaming import stateful_user_totals

    d = tmp_path_factory.mktemp("stateful_stream")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    half = batch.count() // 2
    pdf = batch.toPandas().sort_values("event_id")
    pdf.iloc[:half].to_parquet(d / "part-000.parquet", index=False)
    pdf.iloc[half:].to_parquet(d / "part-001.parquet", index=False)

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    result = run_stream_to_memory(
        stateful_user_totals(stream), "t_stateful", "update").toPandas()
    # update mode emits once per (user, batch); the final emission is the
    # one with the largest running count (monotone across batches —
    # memory-sink row order is not guaranteed)
    final = (result.sort_values("n_events").groupby("user_id").last()
             .sort_index())

    want = (batch.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
            .toPandas().set_index("user_id").sort_index())
    assert (final["n_events"] == want["n_events"]).all()
    pd.testing.assert_series_equal(
        final["total_value"], want["total_value"],
        rtol=1e-9, check_names=False)


def test_stream_stream_interval_join(spark, sf_dir, stream_dir):
    """Watermarked stream-stream join result must equal the batch interval
    join (s5) on (purchase, click) pairs."""
    from bioio_spark.streaming import streaming_interval_join

    left = read_event_stream(spark, stream_dir)
    right = read_event_stream(spark, stream_dir)
    joined = streaming_interval_join(left, right)
    result = run_stream_to_memory(joined, "t_interval_join", "append")
    got = {(r["purchase_id"], r["click_id"]) for r in result.collect()}
    want = {(r["purchase_id"], r["click_id"]) for r in
            REGISTRY["s5_interval_join"].fn(spark, sf_dir).collect()}
    assert got == want


class TestForeachBatchSinks:
    """Sink-side exactly-once: idempotent per-batch_id parquet writes."""

    def test_idempotent_sink_end_to_end(self, spark, sf_dir, stream_dir,
                                        tmp_path):
        from bioio_spark.queries.base import load
        from bioio_spark.streaming import (idempotent_batch_sink,
                                           read_batches, read_event_stream)

        stream = read_event_stream(spark, stream_dir)
        counts = (stream.groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n")))
        # complete-mode agg isn't what we want for a log sink; project rows
        proj = stream.select("event_id", "event_type", "value")
        q = idempotent_batch_sink(
            proj, str(tmp_path / "out"), str(tmp_path / "ckpt"), "t_sink")
        q.awaitTermination(120)
        got = read_batches(spark, str(tmp_path / "out"))
        want = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "value")
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        del counts

    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        """Simulate at-least-once delivery: running the same batch_id
        twice must leave the target byte-identical (no duplicates) —
        mode('overwrite') alone does the clobber (object-store-safe,
        no driver-side local-fs deletes)."""
        from bioio_spark.queries.base import load
        from bioio_spark.streaming import read_batches

        events = load(spark, sf_dir, "events").select(
            "event_id", "event_type")
        target = str(tmp_path / "out")

        def write_batch(batch_df, batch_id):
            out = f"{target}/batch_id={batch_id}"
            batch_df.write.mode("overwrite").parquet(out)

        write_batch(events, 0)
        n1 = read_batches(spark, target).count()
        write_batch(events, 0)  # replay
        n2 = read_batches(spark, target).count()
        assert n1 == n2 == events.count()

    def test_sink_never_touches_local_fs_target(self, spark, sf_dir,
                                                stream_dir, tmp_path,
                                                monkeypatch):
        """Object-store safety: the sink must go through Spark's
        FileSystem-API write path only — any driver-side Python
        local-fs mutation of the target (shutil.rmtree / os.remove /
        os.rmdir, which don't exist for s3://) fails this test."""
        import os as _os
        import shutil as _sh

        from bioio_spark.streaming import (idempotent_batch_sink,
                                           read_batches,
                                           read_event_stream)

        target = str(tmp_path / "out")
        touched = []

        def _guard(orig):
            def inner(path, *a, **k):
                if str(path).startswith(target):
                    touched.append(str(path))
                return orig(path, *a, **k)
            return inner

        monkeypatch.setattr(_sh, "rmtree", _guard(_sh.rmtree))
        monkeypatch.setattr(_os, "remove", _guard(_os.remove))
        monkeypatch.setattr(_os, "rmdir", _guard(_os.rmdir))
        monkeypatch.setattr(_os, "unlink", _guard(_os.unlink))

        stream = read_event_stream(spark, stream_dir)
        proj = stream.select("event_id", "event_type")
        q = idempotent_batch_sink(
            proj, target, str(tmp_path / "ckpt"), "t_sink_objsafe")
        q.awaitTermination(120)
        assert read_batches(spark, target).count() > 0
        assert touched == []

    def test_upsert_sink_latest_wins(self, spark, tmp_path):
        from bioio_spark.streaming import read_upserted

        target = str(tmp_path / "up")
        b0 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, v double")
        b1 = spark.createDataFrame(
            [(2, "b2", 21.0), (3, "c", 30.0)], "k int, s string, v double")
        b0.write.parquet(f"{target}/batch_id=0")
        b1.write.parquet(f"{target}/batch_id=1")
        got = {tuple(r) for r in read_upserted(spark, target, ["k"])
               .collect()}
        assert got == {(1, "a", 10.0), (2, "b2", 21.0), (3, "c", 30.0)}


def test_transform_with_state_user_totals(spark, sf_dir, tmp_path_factory):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): same
    contract as the applyInPandasWithState test — state carries across
    micro-batches, final emission equals the batch aggregate.

    The API's state-server protocol needs protobuf, which this container
    lacks — skipped here, runs anywhere protobuf is installed."""
    pytest.importorskip("google.protobuf")
    import pandas as pd

    from bioio_spark.streaming.stateful import stateful_user_totals_tws

    d = tmp_path_factory.mktemp("tws_stream")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    half = batch.count() // 2
    pdf = batch.toPandas().sort_values("event_id")
    pdf.iloc[:half].to_parquet(d / "part-000.parquet", index=False)
    pdf.iloc[half:].to_parquet(d / "part-001.parquet", index=False)

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    result = run_stream_to_memory(
        stateful_user_totals_tws(stream), "t_tws", "update").toPandas()
    final = (result.sort_values("n_events").groupby("user_id").last()
             .sort_index())

    want = (batch.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
            .toPandas().set_index("user_id").sort_index())
    assert (final["n_events"] == want["n_events"]).all()
    pd.testing.assert_series_equal(
        final["total_value"], want["total_value"],
        rtol=1e-9, check_names=False)


def test_streaming_static_enrichment_equals_batch(spark, sf_dir, stream_dir):
    """Stream-static join: the full-stream complete-mode result equals the
    batch twin exactly (no watermark withholding for global aggregates)."""
    from bioio_spark.queries.base import load
    from bioio_spark.streaming.events import streaming_static_enrichment

    cust, nation = load(spark, sf_dir, "customer", "nation")
    stream = read_event_stream(spark, stream_dir)
    result = run_stream_to_memory(
        streaming_static_enrichment(stream, cust, nation),
        "t_enrich", "complete")
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in
            REGISTRY["s6_stream_static_enrich"].fn(spark, sf_dir)
            .collect()}
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path_factory):
    """Late-data semantics end to end: a row arriving behind the watermark
    is DROPPED — the already-emitted window is neither updated nor
    re-emitted (append mode finality)."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("late_stream")

    def write_events(name, minute_value_pairs):
        base = datetime.datetime(2024, 1, 1)
        pdf = pd.DataFrame({
            "event_id": range(len(minute_value_pairs)),
            "ts": [base + datetime.timedelta(minutes=m)
                   for m, _ in minute_value_pairs],
            "user_id": [1] * len(minute_value_pairs),
            "event_type": ["click"] * len(minute_value_pairs),
            "value": [float(v) for _, v in minute_value_pairs],
            "props": [""] * len(minute_value_pairs),
        })
        pq.write_table(pa.Table.from_pandas(pdf), str(d / name))

    from bioio_spark.streaming import (read_event_stream,
                                       streaming_tumbling_counts)

    # batch 1: 3 events in [00:00, 00:10) + one at 00:30 that advances the
    # watermark to 00:20 and finalizes the first window
    write_events("f1.parquet", [(0, 1), (1, 1), (2, 1), (30, 1)])
    counts = streaming_tumbling_counts(
        read_event_stream(spark, str(d)), watermark="10 minutes")
    q = (counts.writeStream.format("memory").queryName("t_late")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        first = {(r["window_start"].minute, r["n_events"])
                 for r in spark.table("t_late").collect()}
        assert (0, 3) in first

        # batch 2: one LATE row at 00:01 (behind the 00:20 watermark ->
        # dropped) + one at 00:50 (finalizes the 00:30 window)
        write_events("f2.parquet", [(1, 99), (50, 1)])
        q.processAllAvailable()
        final = [(r["window_start"].minute, r["n_events"])
                 for r in spark.table("t_late").collect()]
    finally:
        q.stop()
    # first window emitted exactly once, still with 3 events (late row
    # dropped); the 00:30 window closed with its single event
    assert final.count((0, 3)) == 1
    assert (0, 4) not in final
    assert (30, 1) in final


def test_stream_stream_outer_join(spark, sf_dir, stream_dir):
    """LEFT OUTER stream-stream join: matched pairs equal the batch inner
    join; NULL-completed rows appear only for purchases whose join state
    expired (watermark-driven emission), and each is a purchase the batch
    left join also leaves unmatched."""
    from bioio_spark.streaming import streaming_interval_join_outer

    left = read_event_stream(spark, stream_dir)
    right = read_event_stream(spark, stream_dir)
    joined = streaming_interval_join_outer(left, right)
    result = run_stream_to_memory(joined, "t_outer_join", "append")
    got_matched = {(r["purchase_id"], r["click_id"])
                   for r in result.collect() if r["click_id"] is not None}
    got_null = {r["purchase_id"] for r in result.collect()
                if r["click_id"] is None}

    want = REGISTRY["s7_outer_interval_join"].fn(spark, sf_dir).collect()
    want_matched = {(r["purchase_id"], r["click_id"]) for r in want
                    if r["matched"] == 1}
    want_null = {r["purchase_id"] for r in want if r["matched"] == 0}

    assert got_matched == want_matched
    # null completion waits for state expiry: emitted nulls must be
    # genuine no-match purchases; trailing ones are legitimately withheld
    assert got_null <= want_null


def test_streaming_image_ingest(spark, tmp_path_factory):
    """Live-acquisition ingest: files landing in a watched directory
    surface as decoded pixel rows within one trigger; per-scene stats
    accumulate across micro-batches with exactly-once file processing."""
    import numpy as np

    from bioio_spark.streaming import (read_image_stream,
                                       streaming_decode_pixels,
                                       streaming_scene_stats)
    from bioio_spark.writers import OmeTiffWriter

    d = tmp_path_factory.mktemp("acq")
    a0 = np.arange(12, dtype=np.uint16).reshape(3, 4)
    OmeTiffWriter.save(a0, str(d / "scan0.ome.tiff"), dim_order="YX")

    stats = streaming_scene_stats(
        streaming_decode_pixels(read_image_stream(spark, str(d))))
    q = (stats.writeStream.format("memory").queryName("t_acq")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = {r["scene"]: r for r in spark.table("t_acq").collect()}
        assert rows["scan0"]["n_px"] == 12
        assert rows["scan0"]["sum_val"] == float(a0.sum())

        # the instrument writes a second (multi-page) file
        a1 = np.arange(24, dtype=np.uint16).reshape(2, 3, 4) + 100
        OmeTiffWriter.save(a1, str(d / "scan1.ome.tiff"), dim_order="ZYX")
        q.processAllAvailable()
        rows = {r["scene"]: r for r in spark.table("t_acq").collect()}
        assert rows["scan0"]["n_px"] == 12          # not reprocessed
        assert rows["scan1"]["n_px"] == 24
        assert rows["scan1"]["sum_val"] == float(a1.sum())
        assert rows["scan1"]["max_val"] == float(a1.max())
    finally:
        q.stop()


def test_streaming_ngff_sink_exactly_once(spark, tmp_path):
    """Live acquisition -> NGFF store: arriving one-plane TIFFs become
    Zarr chunks; a restart from the same checkpoint re-processes
    nothing, and late-arriving files extend the store in place."""
    import numpy as np
    from pyspark.sql import functions as F

    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.streaming.ingest import (read_image_stream,
                                              streaming_decode_pixels,
                                              streaming_ngff_sink)

    acq = tmp_path / "acq"
    acq.mkdir()
    rng = np.random.default_rng(11)
    planes = rng.random((4, 6, 8))
    for t in range(2):               # first two timepoints arrive
        (acq / f"t{t}.tif").write_bytes(
            encode_tiff([planes[t].astype(np.float64)]))

    store = str(tmp_path / "live.zarr")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = read_image_stream(spark, str(acq),
                                   max_files_per_trigger=1)
        px = (streaming_decode_pixels(stream)
              .select(F.regexp_extract("scene", r"t(\d+)", 1)
                      .cast("int").alias("t"),
                      F.lit(0).alias("c"), F.col("page").alias("z"),
                      "y", "x", "value"))
        q = streaming_ngff_sink(px, store, shape=(4, 1, 1, 6, 8),
                                chunks=(1, 1, 1, 6, 8),
                                checkpoint=ckpt)
        q.awaitTermination(60)

    run_once()
    from bioio_spark import BioImage

    img = BioImage(store, reader=ZarrImageReader, spark=spark)
    got = img.get_image_data("TYX")
    np.testing.assert_allclose(got[:2], planes[:2])
    assert (got[2:] == 0).all()          # undelivered -> fill_value

    # replay with the SAME checkpoint: nothing reprocessed, store
    # unchanged (exactly-once)
    import os
    mtimes = {f: os.path.getmtime(os.path.join(store, "0", f))
              for f in os.listdir(os.path.join(store, "0"))
              if not f.startswith(".")}
    run_once()
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(store, "0", f)) == m

    # the rest of the acquisition lands; only the NEW files process
    for t in range(2, 4):
        (acq / f"t{t}.tif").write_bytes(
            encode_tiff([planes[t].astype(np.float64)]))
    run_once()
    img2 = BioImage(store, reader=ZarrImageReader, spark=spark)
    np.testing.assert_allclose(img2.get_image_data("TYX"), planes)


def _ngff_ingest(spark, tmp_path, planes, shape, chunks,
                 max_files_per_trigger=8):
    """Land ``planes`` (a dict t -> YX float64 plane) as one-plane TIFFs
    ``t<t>.tif`` and run one availableNow ``streaming_ngff_sink`` ingest
    of them; returns the finished query and the store's TYX array."""
    import numpy as np
    from pyspark.sql import functions as F

    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.streaming.ingest import (read_image_stream,
                                              streaming_decode_pixels,
                                              streaming_ngff_sink)

    acq = tmp_path / "acq"
    acq.mkdir()
    for t, plane in planes.items():
        (acq / f"t{t}.tif").write_bytes(
            encode_tiff([np.asarray(plane, dtype=np.float64)]))
    store = str(tmp_path / "live.zarr")
    stream = read_image_stream(spark, str(acq),
                               max_files_per_trigger=max_files_per_trigger)
    px = (streaming_decode_pixels(stream)
          .select(F.regexp_extract("scene", r"t(\d+)", 1)
                  .cast("int").alias("t"),
                  F.lit(0).alias("c"), F.col("page").alias("z"),
                  "y", "x", "value"))
    q = streaming_ngff_sink(px, store, shape=shape, chunks=chunks,
                            checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    img = BioImage(store, reader=ZarrImageReader, spark=spark)
    return q, img.get_image_data("TYX")


def _data_batches(query) -> int:
    return sum(1 for p in query.recentProgress if p["numInputRows"] > 0)


def test_ngff_sink_aligned_ingest_is_one_job_per_trigger(
        spark, tmp_path, stream_jobs):
    """Chunks no larger than one arriving file: every chunk is written
    in the task that decoded it, so each trigger is one Spark job with
    no shuffle."""
    import numpy as np

    planes = np.random.default_rng(3).random((2, 6, 8))
    q, got = _ngff_ingest(spark, tmp_path, dict(enumerate(planes)),
                          shape=(2, 1, 1, 6, 8), chunks=(1, 1, 1, 6, 8),
                          max_files_per_trigger=1)
    np.testing.assert_array_equal(got, planes)
    assert _data_batches(q) == 2
    assert stream_jobs(q) == (2, 0)


def test_ngff_sink_chunks_spanning_files_take_fallback(
        spark, tmp_path, stream_jobs):
    """Chunks two timepoints deep over one-plane files (each file its own
    partition) are incomplete in every decoding task; the keyed fallback
    assembles them over one exchange (adaptive execution runs its map
    side as a job of its own: two more jobs), and the store reproduces
    the planes exactly, edge chunks included."""
    import numpy as np

    planes = np.random.default_rng(5).random((4, 6, 8))
    q, got = _ngff_ingest(spark, tmp_path, dict(enumerate(planes)),
                          shape=(4, 1, 1, 6, 8), chunks=(2, 1, 1, 4, 5))
    np.testing.assert_array_equal(got, planes)
    assert _data_batches(q) == 1
    jobs, shuffle = stream_jobs(q)
    assert jobs == 3 and shuffle > 0


def test_ngff_sink_partial_chunk_is_zero_filled(spark, tmp_path):
    """A chunk only part of whose pixels arrive in the micro-batch is
    written zero-filled where nothing landed (the fill_value)."""
    import numpy as np

    planes = np.random.default_rng(7).random((4, 6, 8)) + 1
    _, got = _ngff_ingest(spark, tmp_path, {0: planes[0], 3: planes[3]},
                          shape=(4, 1, 1, 6, 8), chunks=(2, 1, 1, 6, 8))
    np.testing.assert_array_equal(got[[0, 3]], planes[[0, 3]])
    assert (got[[1, 2]] == 0).all()


def test_ngff_sink_row_outside_shape_fails_the_stream(spark, tmp_path):
    """A pixel row outside the declared shape fails the micro-batch
    loudly, naming its chunk, instead of writing a chunk file no reader
    opens."""
    import numpy as np
    from pyspark.errors import StreamingQueryException

    planes = np.random.default_rng(9).random((2, 6, 8))
    with pytest.raises(StreamingQueryException,
                       match=r"outside the sink's declared shape.*"
                             r"chunk 1\.0\.0\.0\.0"):
        _ngff_ingest(spark, tmp_path, dict(enumerate(planes)),
                     shape=(1, 1, 1, 6, 8), chunks=(1, 1, 1, 6, 8))
    assert not (tmp_path / "live.zarr" / "0" / "1.0.0.0.0").exists()


def _rows(pixels: dict):
    """Long-form sink rows from ``{(t, c, z, y, x): value}``."""
    import pandas as pd

    pos = list(pixels)
    return pd.DataFrame({
        **{d: [p[i] for p in pos] for i, d in enumerate("tczyx")},
        "value": [float(v) for v in pixels.values()]})


def test_assemble_chunks_counts_distinct_positions(tmp_path):
    """A chunk is written once its DISTINCT positions fill its extent
    (clipped at the array edge), across Arrow batches; duplicate rows
    cannot complete it early, and ``flush`` zero-fills what is left."""
    import numpy as np

    from bioio_spark.formats.zarr import decode_chunk
    from bioio_spark.streaming.ingest import assemble_chunks

    (tmp_path / "0").mkdir()
    shape, chunks = (1, 1, 1, 3, 2), (1, 1, 1, 2, 2)

    def run(batches, flush=False):
        out = list(assemble_chunks(iter(batches), str(tmp_path), shape,
                                   chunks, "float64", flush))
        return sorted(int(i) for pdf in out for i in pdf["cid"])

    def stored(key):
        return decode_chunk((tmp_path / "0" / key).read_bytes(),
                            "float64", chunks).reshape(2, 2)

    # chunk 0 completes over two batches; edge chunk 1 (one row of Y
    # inside the array) completes with its two positions
    full = {(0, 0, 0, y, x): 10 * y + x for y in range(3) for x in range(2)}
    first = {k: v for k, v in full.items() if k[3] == 0}
    rest = {k: v for k, v in full.items() if k[3] > 0}
    assert run([_rows(first), _rows(rest)]) == []
    np.testing.assert_array_equal(stored("0.0.0.0.0"), [[0, 1], [10, 11]])
    np.testing.assert_array_equal(stored("0.0.0.1.0"), [[20, 21], [0, 0]])

    # four rows, three distinct positions: chunk 0 stays open
    for key in ("0.0.0.0.0", "0.0.0.1.0"):
        (tmp_path / "0" / key).unlink()
    dup = _rows({(0, 0, 0, 0, 0): 1, (0, 0, 0, 0, 1): 2,
                 (0, 0, 0, 1, 0): 3})
    dup = dup.iloc[[0, 1, 2, 0]]
    assert run([dup]) == [0]
    assert not (tmp_path / "0" / "0.0.0.0.0").exists()
    assert run([dup], flush=True) == []
    np.testing.assert_array_equal(stored("0.0.0.0.0"), [[1, 2], [3, 0]])


def test_assemble_chunks_rejects_rows_outside_shape(tmp_path):
    """A row past the declared shape — even one inside its edge chunk's
    stored block — raises, naming the row's chunk."""
    from bioio_spark.streaming.ingest import assemble_chunks

    (tmp_path / "0").mkdir()
    for row, key in (((0, 0, 0, 3, 1), r"chunk 0\.0\.0\.1\.0"),
                     ((0, 0, 0, 4, 0), r"chunk 0\.0\.0\.2\.0"),
                     ((0, 0, 0, 0, -1), r"chunk 0\.0\.0\.0\.-1")):
        with pytest.raises(ValueError, match=key):
            list(assemble_chunks(iter([_rows({row: 1})]), str(tmp_path),
                                 (1, 1, 1, 3, 2), (1, 1, 1, 2, 2),
                                 "float64", False))
    assert list((tmp_path / "0").iterdir()) == []


def test_s20_cross_batch_carry_and_replay_idempotence(spark, tmp_path):
    """s20: a user whose events span micro-batches still yields the
    boundary transition exactly once (the carried one-row state), and
    replaying the whole stream from an empty checkpoint overwrites the
    same batch partitions — byte-identical aggregate."""
    import os
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bioio_spark.queries.streaming_batch import (
        stream_transitions_store)

    ev_dir = str(tmp_path / "ev")
    os.makedirs(ev_dir)
    now = time.time()
    batches = [
        # batch 0: user 1 view, click; user 2 signup
        [(1, 1, "view", 1_000_000), (2, 1, "click", 2_000_000),
         (3, 2, "signup", 2_500_000)],
        # batch 1: user 1 purchase (boundary transition click->purchase)
        [(4, 1, "purchase", 3_000_000)],
        # batch 2: user 2 error (boundary signup->error), user 1 view
        [(5, 2, "error", 4_000_000), (6, 1, "view", 5_000_000)],
    ]
    for k, rows in enumerate(batches):
        p = os.path.join(ev_dir, f"arrival{k}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "ts": pa.array([r[3] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        }), p)
        os.utime(p, (now + k, now + k))

    def run():
        store = str(tmp_path / "store")
        shutil.rmtree(store, ignore_errors=True)
        stream_transitions_store(spark, ev_dir, store)
        return sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(store, "trans"))
            .select("user_id", "from_type", "to_type", "g").collect())

    got = run()
    # user 1: view->click (b0), click->purchase (b1), purchase->view
    # (b2); user 2: signup->error (b2) — each boundary pair ONCE
    assert got == sorted([
        (1, "view", "click", 0),
        (1, "click", "purchase", 1),
        (1, "purchase", "view", 2),
        (2, "signup", "error", 2),
    ])
    assert run() == got        # replay from scratch: idempotent
