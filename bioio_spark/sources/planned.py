"""The plane-planned reader core: what every seek-reading format module
shares, kept in one place so each ``*_image.py`` holds only its catalog,
its per-chunk decode and its metadata (the reference's split between
``BioImage`` routing and a plugin's ``_read_delayed``, ref
array_like_reader.py:442-448).

A planned reader builds a small driver-side plan — one row per plane,
strip, chunk or frame, from a metadata-only catalog walk — distributes
it as a DataFrame, and decodes each row's byte range inside
``mapInPandas``. The helpers here are the pieces of that pattern:

- ``norm_window``: a selector to half-open ``[start, stop)`` bounds;
- ``plane_frame`` / ``payload_frame``: one decoded YX(S) / YX plane
  as long-form pixel rows / as one planes-layout payload row;
- ``raw_plane_batches``: the decode loop of plans of uncompressed
  planes;
- ``plan_pixels``: plan rows -> an Arrow-built ``LocalTableScan``
  decoded by ``mapInPandas``, with no exchange, in as many tasks as
  Spark's file-split rule gives for the plan's decoded bytes (which
  ``plane_bytes`` / ``tile_bytes`` / ``scene_bytes`` count);
- ``grid_tile`` / ``with_tile`` / ``tile_of``: the regular YX tile
  grid a planes-layout read declares on its ``values`` column;
- ``standardize``: a decoded frame -> the ``PIXEL_COLUMNS`` layout;
- ``trim``: the residual codegen filter on window bounds;
- ``PlannedReader``: the shared reader surface. A reader that can push
  a window or a planes read down to its source overrides
  ``read_window`` / ``read_planes``; ``None`` means "not for this
  image", and ``BioImage`` falls back to the standardized pixel frame.
"""

from __future__ import annotations

import functools
import glob
import math
import operator
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.fsio import read_range
from bioio_spark.sources.array_like import PIXEL_COLUMNS

WINDOW_SCHEMA = "t int, c int, z int, y int, x int, value double"
PLANES_SCHEMA = ("t int, c int, z int, y0 int, x0 int, h int, w int, "
                 "values array<double>")


def norm_window(sel, size: int) -> tuple[int, int]:
    """Selector -> [start, stop) bounds. None = full dim; int = one index;
    (start, stop) / slice / range = half-open window. An empty window
    raises, so callers never see ``start >= stop``."""
    if sel is None:
        return 0, size
    if isinstance(sel, int):
        if not 0 <= sel < size:
            raise IndexError(f"index {sel} out of range for size {size}")
        return sel, sel + 1
    if isinstance(sel, (slice, range)):
        start, stop = sel.start or 0, sel.stop if sel.stop is not None \
            else size
    else:
        start, stop = sel
    start, stop = max(0, int(start)), min(size, int(stop))
    if start >= stop:
        raise ValueError(f"empty window [{start}, {stop})")
    return start, stop


def plane_frame(plane: np.ndarray, t, c, z, y0: int = 0, x0: int = 0,
                **const) -> pd.DataFrame:
    """Long-form ``(*const, t, c, z, y, x[, s], value)`` rows of one YX
    or YXS plane whose first row/column sit at ``(y0, x0)``, in the
    plane's own order (y, then x, then s). A YXS plane adds the ``s``
    column. ``const`` adds constant columns (e.g. ``scene=``) ahead of
    the dims."""
    h, w = plane.shape[:2]
    s = plane.shape[2] if plane.ndim == 3 else 1
    n = plane.size
    cols = {
        **const,
        "t": np.full(n, t, np.int32),
        "c": np.full(n, c, np.int32),
        "z": np.full(n, z, np.int32),
        "y": np.repeat(np.arange(y0, y0 + h, dtype=np.int32), w * s),
        "x": np.tile(np.repeat(np.arange(x0, x0 + w, dtype=np.int32), s),
                     h),
    }
    if plane.ndim == 3:
        cols["s"] = np.tile(np.arange(s, dtype=np.int32), h * w)
    cols["value"] = plane.ravel().astype(np.float64)
    return pd.DataFrame(cols)


def raw_plane_batches(it):
    """``mapInPandas`` body for plans of uncompressed planes (rows: path,
    offset, nbytes, dtype, t, c, z, y0, ny, nx): seek-read each row's
    byte range as one ``plane_frame``, carrying the row's ``scene`` when
    the plan has that column."""
    for pdf in it:
        scene = "scene" in pdf.columns
        for r in pdf.itertuples():
            plane = np.frombuffer(
                read_range(r.path, r.offset, r.nbytes),
                dtype=np.dtype(r.dtype), count=r.ny * r.nx)
            yield plane_frame(plane.reshape(r.ny, r.nx), r.t, r.c, r.z,
                              y0=r.y0,
                              **({"scene": r.scene} if scene else {}))


def payload_frame(plane: np.ndarray, t, c, z, y0: int = 0,
                  x0: int = 0, **const) -> pd.DataFrame:
    """One planes-layout row (``PLANES_SCHEMA``) carrying a YX plane or
    tile as a dense row-major ``values`` array; ``const`` adds int
    columns (e.g. ``m=``)."""
    h, w = plane.shape
    return pd.DataFrame({
        "t": [int(t)], "c": [int(c)], "z": [int(z)],
        **{k: [int(v)] for k, v in const.items()},
        "y0": [int(y0)], "x0": [int(x0)], "h": [int(h)], "w": [int(w)],
        "values": [plane.ravel().astype(np.float64)],
    })


def plan_width(spark: SparkSession, n: int) -> int:
    """Partitions for an n-row plan: one row per task up to the
    session's default parallelism."""
    return min(n, spark.sparkContext.defaultParallelism)


def split_tasks(spark: SparkSession, nbytes: int) -> int:
    """Tasks for ``nbytes`` of decoded pixels under Spark's own file-split
    rule: ``min(maxPartitionBytes, max(openCostInBytes, nbytes /
    defaultParallelism))`` bytes per task. A small image reads in one
    task; a large one spreads over every core."""
    conf = spark._jconf
    per_task = min(conf.filesMaxPartitionBytes(), max(
        conf.filesOpenCostInBytes(),
        nbytes / spark.sparkContext.defaultParallelism))
    return max(1, -(-int(nbytes) // max(1, int(per_task))))


def plan_pixels(spark: SparkSession, rows: list, batches, schema: str, *,
                nbytes: int, row_schema=None) -> DataFrame:
    """Decode the plan ``rows`` (dicts, or tuples named by ``row_schema``)
    with ``mapInPandas(batches, schema)``.

    The plan goes through pandas and Arrow, so it is a ``LocalTableScan``
    with no exchange and no Python-RDD scan. ``nbytes``, the plan's
    decoded size, sets its task count to ``split_tasks``: each Python
    task has a fixed cost, so a small image reads in one task and a
    large one over every core. ``row_schema`` types the plan's columns
    where inference can't (tuples, arrays)."""
    tuples = row_schema is not None and not (
        rows and isinstance(rows[0], dict))
    names = spark.createDataFrame([], row_schema).columns if tuples \
        else None
    plan = spark.createDataFrame(pd.DataFrame(rows, columns=names),
                                 row_schema)
    return plan.coalesce(split_tasks(spark, nbytes)).mapInPandas(
        batches, schema=schema)


def plane_bytes(plan) -> int:
    """Decoded size of a plan whose rows carry ``ny`` x ``nx`` planes or
    strips of ``dtype``."""
    return sum(int(r["ny"]) * int(r["nx"]) * np.dtype(r["dtype"]).itemsize
               for r in plan)


def tile_bytes(plan) -> int:
    """Decoded size of a plan whose rows carry ``ch`` x ``cw`` chunks of
    ``spp`` samples of ``dtype``."""
    return sum(int(r["ch"]) * int(r["cw"]) * int(r["spp"])
               * np.dtype(r["dtype"]).itemsize for r in plan)


def scene_bytes(scenes) -> int:
    """Decoded size of a full read of the ``scene_row`` catalogs
    ``scenes``."""
    return sum(math.prod(s[f"size_{d}"] or 1 for d in "tczyxms")
               * np.dtype(s["dtype"]).itemsize for s in scenes)


def grid_tile(boxes) -> tuple[int, int] | None:
    """The (tile_h, tile_w) grid of ``(y0, x0, h, w)`` boxes — the
    largest box — when every box starts on that grid anchored at (0, 0),
    so each box sits inside one grid cell; else None."""
    boxes = list(boxes)
    if not boxes:
        return None
    th = max(int(b[2]) for b in boxes)
    tw = max(int(b[3]) for b in boxes)
    if all(int(y0) % th == 0 and int(x0) % tw == 0
           for y0, x0, _h, _w in boxes):
        return th, tw
    return None


def with_tile(planes: DataFrame, tile: tuple[int, int] | None
              ) -> DataFrame:
    """Declare that every row of a planes-layout frame is one cell of a
    regular ``tile = (tile_h, tile_w)`` grid anchored at (0, 0), clipped
    to the image. The declaration rides on the ``values`` column's
    metadata, so it is read driver-side with no job and survives
    ``select``. ``tile=None`` declares nothing."""
    if tile is None:
        return planes
    return planes.withColumn("values", F.col("values").alias(
        "values", metadata={"tile": [int(tile[0]), int(tile[1])]}))


def tile_of(planes: DataFrame) -> tuple[int, int] | None:
    """The (tile_h, tile_w) grid a planes frame declares, or None."""
    tile = planes.schema["values"].metadata.get("tile")
    return (int(tile[0]), int(tile[1])) if tile else None


def standardize(px: DataFrame, image_id: str,
                scene: str | None = None) -> DataFrame:
    """A decoded ``(t, c, z, y, x, value)`` frame in the ``PIXEL_COLUMNS``
    layout, with ``m`` = -1 (absent). ``scene`` names the frame's one
    scene; without it the frame's own ``scene`` column is kept, as are
    its ``res_level`` column (else level 0) and ``s`` column (else -1,
    absent) when it has them."""
    return px.select(
        F.lit(image_id).alias("image_id"),
        F.lit(scene).alias("scene") if scene is not None else "scene",
        "res_level" if "res_level" in px.columns
        else F.lit(0).alias("res_level"),
        "t", "c", "z", "y", "x", F.lit(-1).alias("m"),
        "s" if "s" in px.columns else F.lit(-1).alias("s"), "value",
    ).select(*PIXEL_COLUMNS)


def trim(px: DataFrame, **bounds) -> DataFrame:
    """Residual codegen filter: keep rows with ``lo <= col < hi`` for each
    ``col=(lo, hi)`` bound, in the order given."""
    return px.filter(functools.reduce(operator.and_, (
        (F.col(name) >= lo) & (F.col(name) < hi)
        for name, (lo, hi) in bounds.items())))


def plain_scene(img) -> bool:
    """True when ``img`` (a BioImage) reads its only scene at level 0 —
    the case every single-resolution window planner handles."""
    return len(img.scenes) == 1 and img.current_resolution_level == 0


def empty_window(spark: SparkSession) -> DataFrame:
    """The window frame of a plan with no rows."""
    return spark.createDataFrame([], WINDOW_SCHEMA)


class PlannedReader:
    """Shared surface of the file-backed readers.

    A subclass sets ``EXTENSIONS`` (the suffixes it registers and
    routes on), ``DIM_ORDER_ERROR`` (why ``dim_order`` is not accepted)
    and ``catalog`` (its metadata-only probe), and implements
    ``to_dataset``. ``is_supported_image`` is ``routes`` (the suffix
    check) and then a successful ``catalog``. Readers that can prune at
    the source override ``read_window`` / ``read_planes``."""

    EXTENSIONS: tuple[str, ...] = ()
    DIM_ORDER_ERROR = "dim_order is fixed by the file format"

    def __init__(self, image: str, dim_order=None, channel_names=None,
                 physical_pixel_sizes=None, image_id: str = "img",
                 **_kwargs):
        if dim_order is not None:
            raise ValueError(self.DIM_ORDER_ERROR)
        self._path = image
        self._image_id = image_id
        self._channel_names = channel_names
        self._pps = physical_pixel_sizes

    @classmethod
    def paths(cls, image: str) -> list[str]:
        """A directory's files with this reader's suffixes, sorted (one
        scene per file); any other path is its own one-file list."""
        if os.path.isdir(image):
            return sorted(p for p in glob.glob(os.path.join(image, "*"))
                          if p.lower().endswith(cls.EXTENSIONS))
        return [image]

    @staticmethod
    def catalog(path: str):
        """Metadata-only catalog walk; raises on a file it can't read.
        A reader without one routes on ``routes`` alone."""
        return None

    @classmethod
    def routes(cls, image: str) -> bool:
        """``image`` is a candidate: a path with one of this reader's
        suffixes, or a directory holding such files."""
        return image.lower().endswith(cls.EXTENSIONS) or (
            os.path.isdir(image) and bool(cls.paths(image)))

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str) or not cls.routes(image):
            return False
        try:
            cls.catalog(image)
            return True
        except Exception:
            # routing probes every candidate for a suffix: any reason a
            # catalog walk fails means "not this reader", never an error
            return False

    def read_window(self, spark: SparkSession, img, t=None, c=None,
                    z=None, y=None, x=None) -> DataFrame | None:
        """The ``(t, c, z, y, x, value)`` rows of a window of ``img``'s
        current scene and level, read from the source — or None when
        this reader can't prune this image at the source."""
        return None

    def read_planes(self, spark: SparkSession, img) -> DataFrame | None:
        """``img``'s current scene in the planes layout
        (``PLANES_SCHEMA``) straight from the source — or None."""
        return None
