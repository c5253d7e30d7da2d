"""Streaming image ingestion: a growing acquisition directory as an
unbounded source (SURVEY §2.10 extension — the reference is fully batch;
live-microscopy pipelines append files as the instrument writes them).

`read_image_stream` watches a directory through the binaryFile file
source (explicit schema — the streaming file source requires one), and
`streaming_decode_pixels` turns each micro-batch of newly arrived TIFF
files into long-form pixel rows through the same Arrow-batched decode the
batch reader uses — so a downstream windowed aggregate / sink sees pixels
within one trigger of a file landing.

`streaming_ngff_sink` writes those rows into a live OME-Zarr store:
each micro-batch is one `mapInPandas` pass (`assemble_chunks`) that
writes every chunk in the task that decoded its pixels, so an ingest
whose chunks are no larger than one arriving file is one Spark job with
no exchange; chunks split across partitions take a keyed second pass.

Scale: each micro-batch parallelizes over its files; the decode is the
batch path's mapInPandas (per-page emission bounds executor memory), the
sink holds only the chunks still open in a task, and the file-source
checkpoint gives exactly-once file processing.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

_BINARY_SCHEMA = ("path string, modificationTime timestamp, "
                  "length long, content binary")


@contextmanager
def bounded_stream_partitions(spark: SparkSession, default: int = 8):
    """Size a stream's shuffle/state partitions to its bounded
    per-trigger volume instead of the batch shuffle default (r13,
    guide §2.2/§2.4 applied to micro-batches).

    Every stateful operator creates one state store per shuffle
    partition and commits ALL of them every micro-batch, and every
    batch-side aggregation inside foreachBatch schedules one task per
    shuffle partition — so an ingest/gauge stream whose micro-batches
    carry a few hundred rows pays 32+ task launches and store commits
    per trigger for work that fits in a handful. Spark pins the state
    partition count into the checkpoint at first start
    (OffsetSeqMetadata), making the value per-stream and
    core-count-independent. The stateful gauge stores (s14/s16/s17/
    s19/s20) already size this via their state_partitions parameter;
    this context manager is the same discipline for the image-ingest
    streams (s8/s9 and the bench ingest), whose stateful scene
    aggregate holds a handful of rows. The foreachBatch band/model/
    sketch stores deliberately do NOT use it: their per-batch work
    (minhash, tokenization, CMS hashing) is compute-bound and wants
    the full batch parallelism (measured: s10/s12 regress under a
    small fixed count). Production sizing derives from peak state
    rows / per-trigger volume (SCALING.md capacity models) and is
    overridable via spark.bioio.stream.statePartitions. Measured on
    the s8 ingest fixture: 32 -> 8 state partitions cuts the
    3-trigger run 2.7x with identical output (state metrics are
    partition-count-free totals).

    Single-threaded by design: this mutates the session-global
    spark.sql.shuffle.partitions for the duration of the stream run, so
    a concurrent batch query on the same SparkSession would inherit the
    reduced count, and nested/overlapping uses restore a stale value.
    All call sites (s8/s9 query paths, the bench ingest twin) run their
    streams sequentially on a dedicated session; keep it that way, or
    scope the setting to the stream's own writer instead."""
    key = "spark.sql.shuffle.partitions"
    try:
        n = int(spark.conf.get("spark.bioio.stream.statePartitions",
                               str(default)))
    except ValueError:
        n = default
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def read_image_stream(spark: SparkSession, path: str,
                      pattern: str = "*.tif*",
                      max_files_per_trigger: int = 8) -> DataFrame:
    """Unbounded binaryFile source over an acquisition directory."""
    from bioio_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    return (spark.readStream.format("binaryFile")
            .schema(_BINARY_SCHEMA)
            .option("pathGlobFilter", pattern)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(path))


def streaming_decode_pixels(stream: DataFrame) -> DataFrame:
    """Micro-batch TIFF decode to long-form pixel rows. The scene id is
    the FILE STEM (acquisition convention: one file per scene as written
    by the instrument), so arriving files never collide."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        from bioio_spark.formats.tiff import decode_tiff
        from bioio_spark.fsio import local_path

        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                stem = os.path.basename(local_path(path)).split(".")[0]
                planes, _xml = decode_tiff(bytes(content))
                for i, plane in enumerate(planes):
                    y_n, x_n = plane.shape[0], plane.shape[1]
                    yield pd.DataFrame({
                        "scene": stem,
                        "page": np.int32(i),
                        "y": np.repeat(np.arange(y_n, dtype=np.int32),
                                       x_n),
                        "x": np.tile(np.arange(x_n, dtype=np.int32),
                                     y_n),
                        "value": plane.ravel().astype(np.float64),
                    })

    return stream.select("path", "content").mapInPandas(
        batches,
        schema="scene string, page int, y int, x int, value double")


def streaming_scene_stats(pixels: DataFrame) -> DataFrame:
    """Per-scene arrival stats — the live-QC aggregate an acquisition
    dashboard reads (complete/update mode; one state row per scene)."""
    from pyspark.sql import functions as F

    return (pixels.groupBy("scene")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val")))


def streaming_ngff_sink(pixels: DataFrame, store: str,
                        shape: tuple, chunks: tuple,
                        dtype: str = "float64",
                        checkpoint: str = None,
                        image_name: str = "live"):
    """Live acquisition -> OME-Zarr: stream long-form pixel rows
    (t, c, z, y, x, value) into an NGFF 0.4 store, chunk by chunk.

    The store's metadata (.zgroup/.zattrs/.zarray) is written ONCE,
    driver-side, from the declared final `shape` — NGFF has no append
    metadata, so a live store declares its full extent up front and
    chunks materialize as data arrives (readers see fill_value where
    nothing has landed yet, the standard sparse-Zarr semantics). A row
    outside `shape` fails the micro-batch with a ValueError naming its
    chunk.

    Each micro-batch is one `mapInPandas` over its pixel rows
    (`assemble_chunks`): a task places rows into their chunk's block as
    they stream past and writes the chunk the moment all of its
    positions (clipped at the array edge) have been seen, so a chunk
    whose pixels one partition holds whole is written in the task that
    decoded it: one job, no exchange. Chunk-batch alignment is a SPEED
    property, not a correctness one: the ids of chunks still incomplete
    at the end of a partition (their pixels split across partitions)
    come back to the driver, which re-runs the same kernel over just
    their rows, hash-partitioned by chunk — a second pass that re-reads
    the micro-batch and exchanges those rows once — after which a chunk
    still partial (its pixels not all in this micro-batch) is
    zero-filled and written. Align chunk geometry to the per-file
    arrival unit (e.g. chunks=(1,1,1,Y,X) when each arriving file is one
    plane) to keep every trigger on the one-job path.

    Memory: the chunks still open in one task, each a chunk-shaped block
    plus one byte per position — one or two chunks when a partition's
    rows arrive chunk by chunk.

    Exactly-once WITHOUT a transaction log: a chunk's filename is a
    pure function of its grid position and its bytes a function of the
    micro-batch's rows, so a replayed micro-batch (post-crash re-run
    from the file-source checkpoint) overwrites identical bytes instead
    of duplicating.

    Returns the StreamingQuery (caller awaits/stops)."""
    import os

    from pyspark.sql import functions as F

    from bioio_spark.formats.zarr import (ZGROUP, build_ngff_attrs,
                                          build_zarray)

    root = store
    os.makedirs(os.path.join(root, "0"), exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        f.write(ZGROUP)
    with open(os.path.join(root, ".zattrs"), "w") as f:
        f.write(build_ngff_attrs(image_name, None))
    with open(os.path.join(root, "0", ".zarray"), "w") as f:
        f.write(build_zarray(shape, chunks, dtype))

    shape = tuple(int(s) for s in shape)
    cs = tuple(int(c) for c in chunks)
    grid = tuple(-(-s // c) for s, c in zip(shape, cs))
    cols = ("t", "c", "z", "y", "x", "value")
    # the kernel's linear chunk id (C order over the chunk grid) as a
    # column, for the fallback's filter and partitioning
    cid = sum((F.col(d) / c).cast("long") * int(np.prod(grid[i + 1:]))
              for i, (d, c) in enumerate(zip("tczyx", cs)))

    def kernel(flush: bool):
        return lambda batches: assemble_chunks(batches, root, shape, cs,
                                               dtype, flush)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(*cols)
        open_ids = list({r.cid for r in rows.mapInPandas(
            kernel(False), "cid long").collect()})
        if open_ids:
            (rows.withColumn("cid", cid)
             .filter(F.col("cid").isin(open_ids))
             .repartition("cid")
             .mapInPandas(kernel(True), "cid long")
             .collect())

    return (pixels.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation",
                    checkpoint or os.path.join(root, "_checkpoint"))
            .trigger(availableNow=True)
            .start())


def assemble_chunks(batches: Iterator[pd.DataFrame], root: str,
                    shape: tuple, chunks: tuple, dtype: str,
                    flush: bool) -> Iterator[pd.DataFrame]:
    """`streaming_ngff_sink`'s chunk-assembly kernel: a `mapInPandas`
    body over long-form pixel rows (t, c, z, y, x, value).

    Each row is placed into its chunk's zero block and its position
    marked seen; a chunk is encoded to ``{root}/0/<chunk key>`` once its
    count of DISTINCT seen positions reaches its extent (the chunk shape
    clipped at the array edge), then dropped. At the end of the
    partition the ids (linear, C order over the chunk grid) of chunks
    still incomplete are yielded — or, with ``flush``, those chunks are
    written as they are, zero-filled where no row landed."""
    import os

    from bioio_spark.formats.zarr import chunk_key, encode_chunk, place_rows

    grid = tuple(-(-s // c) for s, c in zip(shape, chunks))
    size = int(np.prod(chunks))
    open_chunks: dict = {}   # chunk id -> (block, seen positions)

    def write(key: int, block) -> None:
        pos = np.unravel_index(key, grid)
        with open(os.path.join(root, "0", chunk_key(pos)), "wb") as f:
            f.write(encode_chunk(block))

    for pdf in batches:
        if pdf.empty:
            continue
        coords = [pdf[d].to_numpy() for d in "tczyx"]
        values = pdf["value"].to_numpy()
        outside = np.zeros(len(pdf), dtype=bool)
        for c, s in zip(coords, shape):
            outside |= (c < 0) | (c >= s)
        if outside.any():
            row = tuple(int(c[np.argmax(outside)]) for c in coords)
            raise ValueError(
                f"pixel row (t, c, z, y, x) = {row} lies outside the "
                f"sink's declared shape {shape}: its chunk "
                f"{chunk_key(r // c for r, c in zip(row, chunks))} is not "
                f"in the store's chunk grid {grid}")
        ids = np.ravel_multi_index(
            [c // k for c, k in zip(coords, chunks)], grid)
        if (ids == ids[0]).all():   # the whole batch is one chunk
            groups = [(int(ids[0]), slice(None))]
        else:
            order = np.argsort(ids, kind="stable")
            groups = [(int(ids[sel[0]]), sel) for sel in np.split(
                order, np.flatnonzero(np.diff(ids[order])) + 1)]
        for key, sel in groups:
            pos = np.unravel_index(key, grid)
            block, seen = open_chunks.pop(key, (None, None))
            if block is None:
                block = np.zeros(chunks, dtype=dtype)
                seen = np.zeros(size, dtype=bool)
            seen[place_rows(block, [p * c for p, c in zip(pos, chunks)],
                            [c[sel] for c in coords], values[sel])] = True
            extent = np.prod([min(c, s - p * c)
                              for p, c, s in zip(pos, chunks, shape)])
            if np.count_nonzero(seen) == extent:
                write(key, block)
            else:
                open_chunks[key] = (block, seen)
    if flush:
        for key, (block, _) in open_chunks.items():
            write(key, block)
    elif open_chunks:
        yield pd.DataFrame({"cid": list(open_chunks)}, dtype="int64")
