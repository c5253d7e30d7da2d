"""The plane-planned reader core: what every seek-reading format module
shares, kept in one place so each ``*_image.py`` holds only its catalog,
its plan, its decode and its metadata (the reference's split between
``BioImage`` routing and a plugin's ``_read_delayed``, ref
array_like_reader.py:442-448).

A planned reader gives one ``plan()``: a ``Plan`` whose rows are the
file's planes, strips, chunks or frames, each carrying its extent
``(scene, res_level, t, c, z, y0, h, x0, w)`` — an interleaved frame's
row carries the channel range ``c .. c + nc``, a z-chunk's row the
planes ``z .. z + nz``, a t-deep chunk's row the timepoints
``t .. t + nt``, a mosaic tile's row its tile ``m`` — beside the
catalogs the same metadata walk produced. It also gives one
``decode_tiles`` batch function, plan rows -> ``(row, tile)`` pairs of
native-dtype arrays: ``(h, w)``, ``(h, w, k)`` with ``k`` the row's
``nc`` channels or the scene's S samples, and a leading ``nz`` axis on a
z-chunk; a t-deep row yields one pair per timepoint, its ``t`` set. A
reader that can narrow one row's read to a row window sets the optional
``narrow`` hook (``narrow_rows`` for the raw-plane family).
``PlannedReader`` derives every view from that one plan, each a
``LocalTableScan`` of plan rows decoded by ``mapInPandas`` with no
exchange:

- ``to_dataset``: the catalogs at open, and the pixel frame as a thunk
  ``ImageDataset`` builds on first use — the decoded tiles exploded to
  ``PIXEL_COLUMNS`` rows in the task that decoded them;
- ``read_window``: plan rows of the current scene and level pruned by
  overlap with the selectors, narrowed through the hook, decoded, and
  sliced to the window in numpy before the explode;
- ``read_tiles``: the plan rows of the current scene and level decoded
  and handed, one native-dtype YX tile at a time, to a caller's
  ``mapInPandas``-style body in the task that decoded them, with the
  plan's tile grid declared through ``with_tile``. ``BioImage.data``
  collects native bytes through it (``native_tiles``), the Zarr writer
  encodes chunks in it, and ``read_planes`` is it with the
  ``PLANES_SCHEMA`` payload body (``payload_tiles``).

Every file reader with a plan, TIFF and Zarr included, takes this
shape, and the ``bioio_tiff`` / ``bioio_zarr`` DataSources prune the
same rows (``extent_rows``, ``spans``). The other helpers here serve the
raster and TIFF-series readers too: ``norm_window`` (a selector to
``[start, stop)``), ``plane_frame`` (one plane as long-form rows),
``plan_scan`` (plan rows as a scan, in as many tasks as Spark's
file-split rule gives for the decoded bytes), ``grid_tile`` /
``with_tile`` / ``tile_of`` (the tile grid a tile read declares) and
``standardize``.
"""

from __future__ import annotations

import functools
import glob
import operator
import os
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.fsio import read_range
from bioio_spark.sources.array_like import PIXEL_COLUMNS

WINDOW_SCHEMA = "t int, c int, z int, y int, x int, value double"
PLANES_SCHEMA = ("t int, c int, z int, y0 int, x0 int, h int, w int, "
                 "values array<double>")
# one YX tile per row, its native-dtype samples as row-major bytes
NATIVE_SCHEMA = ("t int, c int, z int, y0 int, x0 int, h int, w int, "
                 "data binary")
# decoded tiles exploded to pixels; si indexes the plan's scenes
TILE_SCHEMA = ("si int, res_level int, t int, c int, z int, y int, "
               "x int, m int, s int, value double")
# extent columns a plan row may leave out, with their defaults (h and
# w default to the scene's size); oy/ox place a mosaic tile's window
EXTENT = {"res_level": 0, "t": 0, "nt": 1, "c": 0, "nc": 1, "z": 0,
          "nz": 1, "y0": 0, "x0": 0, "m": -1, "oy": 0, "ox": 0}


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


def plan_scan(spark: SparkSession, rows: pd.DataFrame, *,
              nbytes: int) -> DataFrame:
    """The plan ``rows`` as a scan for ``mapInPandas`` to decode.

    The plan goes through pandas and Arrow, so it is a ``LocalTableScan``
    with no exchange and no Python-RDD scan. ``nbytes``, the plan's
    decoded size, sets its task count to ``split_tasks``: each Python
    task has a fixed cost, so a small image reads in one task and a
    large one over every core."""
    return spark.createDataFrame(rows).coalesce(split_tasks(spark, nbytes))


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


def with_tile(frame: DataFrame, tile: tuple[int, int] | None
              ) -> DataFrame:
    """Declare that every row of a tile-read frame came from one cell of
    a regular ``tile = (tile_h, tile_w)`` grid anchored at (0, 0),
    clipped to the image. The declaration rides on the metadata of the
    frame's first column, so it is read driver-side with no job and
    survives any ``select`` that keeps that column. ``tile=None``
    declares nothing."""
    if tile is None:
        return frame
    col = frame.columns[0]
    return frame.withColumn(col, F.col(col).alias(
        col, metadata={"tile": [int(tile[0]), int(tile[1])]}))


def tile_of(frame: DataFrame) -> tuple[int, int] | None:
    """The (tile_h, tile_w) grid a tile-read frame declares, or None."""
    tile = next((f.metadata["tile"] for f in frame.schema
                 if "tile" in f.metadata), None)
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


# -- the raw-plane family: rows of contiguous YX(C) rows at a byte offset


def narrow_rows(rows: pd.DataFrame, lo, hi, where=True) -> pd.DataFrame:
    """The ``narrow`` hook of the raw-plane family: each row (where
    ``where`` holds) shrinks to image rows ``[lo, hi)`` of its extent.
    A row with a byte range (``offset``, ``nbytes`` of ``h`` contiguous
    image rows) narrows it to those rows' bytes; a row without one keeps
    ``y0``/``h`` for its decode to seek by."""
    y0 = np.where(where, np.maximum(rows["y0"], lo), rows["y0"])
    y1 = np.where(where, np.minimum(rows["y0"] + rows["h"], hi),
                  rows["y0"] + rows["h"])
    out = rows.assign(y0=y0, h=y1 - y0)
    if "offset" in rows:
        step = rows["nbytes"] // rows["h"]
        out = out.assign(offset=rows["offset"] + (y0 - rows["y0"]) * step,
                         nbytes=np.where(where, (y1 - y0) * step,
                                         rows["nbytes"]))
    return out


def raw_tile(r, data: bytes) -> np.ndarray:
    """``h`` rows of ``w`` (x ``nc`` interleaved channels) ``dtype``
    samples from a plan row's bytes."""
    a = np.frombuffer(data, dtype=np.dtype(r.dtype),
                      count=r.h * r.w * r.nc)
    return a.reshape(r.h, r.w, r.nc) if r.nc > 1 else a.reshape(r.h, r.w)


def raw_tiles(rows: pd.DataFrame):
    """``decode_tiles`` of the raw-plane family: seek-read each row's
    ``offset``/``nbytes`` range."""
    for r in rows.itertuples(index=False):
        yield r, raw_tile(r, read_range(r.path, r.offset, r.nbytes))


# -- the one plan and the views derived from it


@dataclass
class Plan:
    """A planned reader's rows and the catalogs of the same metadata
    walk: ``scene_row`` / ``channel_rows`` dicts and the mosaic tiles
    table (``scene, m, y_off, x_off``) or None."""

    rows: list
    scenes: list
    channels: list
    tiles: Optional[pd.DataFrame] = None


def extent_rows(plan: Plan) -> pd.DataFrame:
    """The plan's rows as a frame carrying every ``EXTENT`` column (``h``
    and ``w`` default to the scene's size) and ``si``, the index of the
    row's scene in the plan."""
    cat = {s["scene"]: s for s in plan.scenes}
    rows = pd.DataFrame(plan.rows)
    for col, default in EXTENT.items():
        if col not in rows:
            rows[col] = default
    for col, size in (("h", "size_y"), ("w", "size_x")):
        if col not in rows:
            rows[col] = [cat[s][size] for s in rows["scene"]]
    rows["si"] = rows["scene"].map({s: i for i, s in enumerate(cat)})
    return rows


def spans(rows: pd.DataFrame) -> dict:
    """Each row's half-open extent per dim, ``{dim: (start, stop)}``, in
    the scene's coordinates (a placed mosaic tile's offset included)."""
    y0, x0 = rows["y0"] + rows["oy"], rows["x0"] + rows["ox"]
    return {"t": (rows["t"], rows["t"] + rows["nt"]),
            "c": (rows["c"], rows["c"] + rows["nc"]),
            "z": (rows["z"], rows["z"] + rows["nz"]),
            "y": (y0, y0 + rows["h"]), "x": (x0, x0 + rows["w"])}


def _blocks(r, tile) -> np.ndarray:
    """A decoded tile as ``(nz, h, w, k)``."""
    a = np.asarray(tile)
    if r.nz == 1:
        a = a[None]
    return a[..., None] if a.ndim == 3 else a


def _tile_frame(r, a, z0, c0, y0, x0) -> pd.DataFrame:
    """``TILE_SCHEMA`` rows of an ``(nz, h, w, k)`` block whose first
    plane, channel, row and column sit at ``(z0, c0, y0, x0)``; ``k`` is
    channels on a row with ``nc > 1``, else samples (S)."""
    nz, h, w, k = a.shape
    n = a.size
    kk = np.tile(np.arange(k, dtype=np.int32), nz * h * w)
    chan = r.nc > 1
    return pd.DataFrame({
        "si": np.full(n, r.si, np.int32),
        "res_level": np.full(n, r.res_level, np.int32),
        "t": np.full(n, r.t, np.int32),
        "c": kk + np.int32(c0) if chan else np.full(n, c0, np.int32),
        "z": np.repeat(np.arange(z0, z0 + nz, dtype=np.int32), h * w * k),
        "y": np.tile(np.repeat(np.arange(y0, y0 + h, dtype=np.int32),
                               w * k), nz),
        "x": np.tile(np.repeat(np.arange(x0, x0 + w, dtype=np.int32), k),
                     nz * h),
        "m": np.full(n, r.m, np.int32),
        "s": kk if k > 1 and not chan else np.full(n, -1, np.int32),
        "value": a.ravel().astype(np.float64),
    })


def _yx_tiles(decode, batches):
    """Batches of plan rows, decoded, as ``(t, c, z, y0, x0, tile)`` YX
    tiles in their native dtype: a z-chunk gives one per plane, a
    channel-interleaved row one per channel."""
    for pdf in batches:
        for r, tile in decode(pdf):
            a = _blocks(r, tile)
            y0, x0 = r.y0 + r.oy, r.x0 + r.ox
            for z in range(a.shape[0]):
                for ch in range(a.shape[3]):
                    yield r.t, r.c + ch, r.z + z, y0, x0, a[z, :, :, ch]


def _tile_rows(tiles, name: str, payload):
    """One frame per ``(t, c, z, y0, x0, tile)``: the tile's extent and
    ``payload(tile)`` in column ``name``."""
    for t, c, z, y0, x0, tile in tiles:
        yield pd.DataFrame({
            "t": [t], "c": [c], "z": [z], "y0": [y0], "x0": [x0],
            "h": [tile.shape[0]], "w": [tile.shape[1]],
            name: [payload(tile)]})


def payload_tiles(tiles):
    """``read_tiles`` body of the planes layout: one ``PLANES_SCHEMA``
    row per tile, its values widened to float64."""
    return _tile_rows(tiles, "values",
                      lambda a: a.ravel().astype(np.float64))


def native_tiles(dtype):
    """``read_tiles`` body of ``NATIVE_SCHEMA``: one row per tile, its
    samples as native-order ``dtype`` bytes, for ``np.frombuffer``."""
    dtype = np.dtype(dtype)
    return lambda tiles: _tile_rows(
        tiles, "data", lambda a: np.ascontiguousarray(a, dtype).tobytes())


def _tile_batches(decode, frame, window=None):
    """``mapInPandas`` body: decode each batch of plan rows and emit each
    tile through ``frame``, first sliced to ``window`` (``{dim: (lo,
    hi)}`` in scene coordinates) when one is given."""
    def batches(it):
        for pdf in it:
            for r, tile in decode(pdf):
                if window is not None and not (
                        window["t"][0] <= r.t < window["t"][1]):
                    continue
                a = _blocks(r, tile)
                z0, c0 = r.z, r.c
                y0, x0 = r.y0 + r.oy, r.x0 + r.ox
                if window is not None:
                    (zl, zh), (yl, yh), (xl, xh) = (
                        window["z"], window["y"], window["x"])
                    a = a[max(zl - z0, 0):max(zh - z0, 0),
                          max(yl - y0, 0):max(yh - y0, 0),
                          max(xl - x0, 0):max(xh - x0, 0)]
                    if r.nc > 1:
                        cl, ch = window["c"]
                        a = a[..., max(cl - c0, 0):max(ch - c0, 0)]
                        c0 = max(c0, cl)
                    z0, y0, x0 = max(z0, zl), max(y0, yl), max(x0, xl)
                if a.size:
                    yield frame(r, a, z0, c0, y0, x0)
    return batches


class PlannedReader:
    """Shared surface of the file-backed readers.

    A subclass sets ``EXTENSIONS`` (the suffixes it registers and
    routes on), ``DIM_ORDER_ERROR`` (why ``dim_order`` is not accepted)
    and ``catalog`` (its metadata-only probe). A planned reader gives
    ``plan`` and ``decode_tiles`` (and ``narrow`` where it can narrow a
    row's read), and ``to_dataset``, ``read_window`` and ``read_tiles``
    follow from them. ``read_planes`` is ``read_tiles`` with the payload
    body for every reader.
    ``is_supported_image`` is ``routes`` (the suffix check) and then a
    successful ``catalog``."""

    EXTENSIONS: tuple[str, ...] = ()
    DIM_ORDER_ERROR = "dim_order is fixed by the file format"
    narrow = None

    def __init__(self, image: str, dim_order=None, channel_names=None,
                 physical_pixel_sizes=None, image_id: str = "img",
                 **_kwargs):
        if dim_order is not None:
            raise ValueError(self.DIM_ORDER_ERROR)
        self._path = image
        self._image_id = image_id
        self._channel_names = channel_names
        self._pps = physical_pixel_sizes
        self._plan: Optional[Plan] = None
        self._scans: dict = {}

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

    def plan(self) -> Plan:
        """The image's one plan, from a metadata-only walk."""
        raise NotImplementedError

    @staticmethod
    def decode_tiles(rows: pd.DataFrame):
        """A batch of plan rows -> ``(row, tile)`` pairs."""
        raise NotImplementedError

    def _scan(self, spark, rows: pd.DataFrame) -> DataFrame:
        """``rows`` as a ``plan_scan`` for their decoded bytes."""
        nbytes = (rows["h"] * rows["w"] * rows["nc"] * rows["nz"]
                  * rows["nt"] * rows["scene"].map(self._sample_bytes)
                  ).sum()
        return plan_scan(spark, rows, nbytes=int(nbytes))

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.sources.array_like import ImageDataset

        plan = self._plan = self.plan()
        cat = {s["scene"]: s for s in plan.scenes}
        rows = self._rows = extent_rows(plan)
        self._sample_bytes = {
            s: np.dtype(r["dtype"]).itemsize * (r["size_s"] or 1)
            for s, r in cat.items()}
        names = list(cat)

        def pixels():
            scene = (F.lit(names[0]) if len(names) == 1 else F.element_at(
                F.array(*map(F.lit, names)), F.col("si") + 1))
            return self._scan(spark, rows).mapInPandas(
                _tile_batches(self.decode_tiles, _tile_frame),
                TILE_SCHEMA).select(
                    F.lit(self._image_id).alias("image_id"),
                    scene.alias("scene"), *PIXEL_COLUMNS[2:])
        return ImageDataset(pixels, plan.scenes, plan.channels,
                            tiles=plan.tiles)

    def _scene_rows(self, img) -> Optional[pd.DataFrame]:
        """The plan rows of ``img``'s current scene and level, placed in
        its standardized frame — or None where they can't be: a mosaic
        left unstitched, at a level > 0, or with overlapping tiles
        (the stitch picks one pixel there, the plan holds both)."""
        if self._plan is None:
            return None
        rows = self._rows[
            (self._rows["scene"] == img.current_scene)
            & (self._rows["res_level"] == img.current_resolution_level)]
        if not (rows["m"] >= 0).any():
            return rows
        tiles = self._plan.tiles
        if ("M" in img.dims.order or img.current_resolution_level
                or tiles is None):
            return None
        tiles = tiles[tiles["scene"] == img.current_scene]
        cat = next(s for s in self._plan.scenes
                   if s["scene"] == img.current_scene)
        y, x = tiles["y_off"].to_numpy(), tiles["x_off"].to_numpy()
        if ((abs(y[:, None] - y) < cat["size_y"])
                & (abs(x[:, None] - x) < cat["size_x"])).sum() > len(y):
            return None
        off = tiles.set_index("m")
        return rows.assign(oy=rows["m"].map(off["y_off"]).astype(int),
                           ox=rows["m"].map(off["x_off"]).astype(int))

    def window_rows(self, img, t=None, c=None, z=None, y=None, x=None):
        """``(rows, window)``: the plan rows of ``img``'s current scene
        and level that overlap the window, and the window as ``{dim:
        (lo, hi)}`` — or None when the plan can't address the scene."""
        rows = self._scene_rows(img)
        if rows is None:
            return None
        dims = img.dims
        window = {d: norm_window(sel, dims[d.upper()][0])
                  for d, sel in zip("tczyx", (t, c, z, y, x))}
        span = spans(rows)
        keep = functools.reduce(operator.and_, (
            (span[d][0] < hi) & (span[d][1] > lo)
            for d, (lo, hi) in window.items()))
        return rows[keep], window

    def read_window(self, spark: SparkSession, img, t=None, c=None,
                    z=None, y=None, x=None) -> DataFrame | None:
        """The ``(t, c, z, y, x, m, s, value)`` rows of a window of
        ``img``'s current scene and level, decoding only the plan rows
        it overlaps — or None when the plan can't address it."""
        found = self.window_rows(img, t=t, c=c, z=z, y=y, x=x)
        if found is None:
            return None
        rows, window = found
        if rows.empty:
            return spark.createDataFrame([], TILE_SCHEMA).drop(
                "si", "res_level")
        if self.narrow is not None:
            lo, hi = window["y"]
            rows = self.narrow(rows, lo - rows["oy"], hi - rows["oy"])
        return self._scan(spark, rows).mapInPandas(_tile_batches(
            self.decode_tiles, _tile_frame, window), TILE_SCHEMA).drop(
                "si", "res_level")

    def read_tiles(self, spark: SparkSession, img, body, schema: str
                   ) -> DataFrame | None:
        """``img``'s current scene and level as YX tiles: ``body``, a
        ``mapInPandas``-style function, gets an iterator of ``(t, c, z,
        y0, x0, tile)`` with ``tile`` an ``(h, w)`` array in its native
        dtype, runs in the task that decoded the tile, and yields
        ``schema`` frames. The frame declares the plan's tile grid
        (``with_tile``) where it has one. None for a scene the read
        can't carry (S or M) or no plan."""
        rows = self._scene_rows(img)
        if rows is None or (rows["m"] >= 0).any() or \
                "S" in img.dims.order:
            return None
        # one scan per scene and level, whatever the body
        key = (img.current_scene, img.current_resolution_level)
        if key not in self._scans:
            self._scans[key] = self._scan(spark, rows)
        decode = self.decode_tiles
        tiles = self._scans[key].mapInPandas(
            lambda it: body(_yx_tiles(decode, it)), schema)
        return with_tile(tiles, grid_tile(
            zip(rows["y0"], rows["x0"], rows["h"], rows["w"])))

    def read_planes(self, spark: SparkSession, img) -> DataFrame | None:
        """``img``'s current scene and level in the planes layout
        (``PLANES_SCHEMA``), one row per decoded tile — ``read_tiles``
        with the float64 payload body."""
        return self.read_tiles(spark, img, payload_tiles, PLANES_SCHEMA)
