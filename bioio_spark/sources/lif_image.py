"""LIF reader (.lif) — the reference's bioio-lif plugin tier (ref
README.md:62), over the in-repo pure-Python Leica block+XML codec
(bioio_spark.formats.lif).

- **Catalog (driver-side)**: one block walk + the settings XML —
  scene names, shapes, dtypes, channel strides, and physical pixel
  sizes (dimension Length metres -> µm), no pixel IO.
- **Pixels (executor-side)**: one plan row per (scene, t, c, z)
  PLANE; each task seek-reads its plane through the stride arithmetic
  (`read_lif_plane`) — parallelism = plane count, zero shuffle, one
  ranged GET per plane at object-store scale (the same planned-read
  shape as the DV and CZI tiers)."""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import (PLANES_SCHEMA, WINDOW_SCHEMA,
                                         PlannedReader, norm_window,
                                         payload_frame, plan_pixels,
                                         plane_frame, scene_bytes, with_tile)


def _read_planes(it: Iterator[pd.DataFrame], y0: int = 0, y1=None):
    """(plan row, YX plane) per plan row (path, scene_i, m, t, c, z;
    m = -1 outside tile scans), rows y0:y1 only; one header parse per
    file."""
    from bioio_spark.formats.lif import parse_lif_header, read_lif_plane

    hdr_cache: dict = {}
    for pdf in it:
        for r in pdf.itertuples():
            if r.path not in hdr_cache:
                hdr_cache[r.path] = parse_lif_header(r.path)
            yield r, read_lif_plane(
                r.path, hdr_cache[r.path], r.scene_i, r.t, r.c, r.z,
                m=max(r.m, 0), y0=y0, y1=y1)


def read_lif_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None,
                    scene: int = 0):
    """Window-pruned LIF read: t/c/z selectors prune whole PLANES via
    the block walk + XML strides (driver-side, header-only IO), and the
    y window becomes a row-range seek inside each surviving plane
    (read_lif_plane y0/y1 — only the window's rows' bytes move); the x
    window prunes in numpy after the stride gather. Tile-scan (M > 1)
    scenes are not routed here — their global mosaic coordinates come
    from the stitch operator, so BioImage.read_window falls back to the
    standardized path for them."""
    from bioio_spark.formats.lif import parse_lif_header

    path = os.path.abspath(path)
    header = parse_lif_header(path)
    if not (0 <= scene < len(header["scenes"])):
        raise IndexError(f"{path}: no scene {scene}")
    sc = header["scenes"][scene]
    if sc.get("m_n", 1) > 1:
        raise ValueError(
            "read_lif_window reads single-tile scenes; tile scans "
            "route through BioImage/mosaic semantics")
    t_n, c_n, z_n, y_n, x_n = sc["shape"]
    t0, t1 = norm_window(t, t_n)
    c0, c1 = norm_window(c, c_n)
    z0, z1 = norm_window(z, z_n)
    y0, y1 = norm_window(y, y_n)
    x0, x1 = norm_window(x, x_n)
    plan = [{"path": path, "scene_i": scene, "m": -1,
             "t": ti, "c": ci, "z": zi}
            for ti in range(t0, t1)
            for ci in range(c0, c1)
            for zi in range(z0, z1)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for r, rows in _read_planes(it, y0=y0, y1=y1):
            yield plane_frame(rows[:, x0:x1], r.t, r.c, r.z,  # numpy prune
                              y0=y0, x0=x0)

    return plan_pixels(spark, plan, batches, WINDOW_SCHEMA,
                       nbytes=len(plan) * (y1 - y0) * x_n
                       * np.dtype(sc["dtype"]).itemsize)


def read_lif_planes(spark: SparkSession, path: str, scene: int = 0):
    """ZERO-SHUFFLE plane -> planes-layout read (the LIF member of the
    planes family): one payload row per (t, c, z) plane via the stride
    arithmetic. Tile-scan scenes route through BioImage/mosaic."""
    from bioio_spark.formats.lif import parse_lif_header

    path = os.path.abspath(path)
    header = parse_lif_header(path)
    if not (0 <= scene < len(header["scenes"])):
        raise IndexError(f"{path}: no scene {scene}")
    sc = header["scenes"][scene]
    if sc.get("m_n", 1) > 1:
        raise ValueError(
            "read_lif_planes reads single-tile scenes; tile scans "
            "route through BioImage/mosaic semantics")
    t_n, c_n, z_n, y_n, x_n = sc["shape"]
    plan = [{"path": path, "scene_i": scene, "m": -1,
             "t": t, "c": c, "z": z}
            for t in range(t_n) for c in range(c_n)
            for z in range(z_n)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for r, plane in _read_planes(it):
            yield payload_frame(plane, r.t, r.c, r.z)

    nbytes = len(plan) * y_n * x_n * np.dtype(sc["dtype"]).itemsize
    return with_tile(plan_pixels(spark, plan, batches, PLANES_SCHEMA,
                                 nbytes=nbytes), (y_n, x_n))


class LifImageReader(PlannedReader):
    """BioImage reader over baseline LIF files (plugin tier)."""

    EXTENSIONS = (".lif",)
    DIM_ORDER_ERROR = "LIF dimensions come from the settings XML"

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str) or not \
                image.lower().endswith(cls.EXTENSIONS):
            return False
        try:
            import struct

            with open(image, "rb") as f:
                head = f.read(8)
            return len(head) == 8 and \
                struct.unpack("<i", head[:4])[0] == 0x70
        except OSError:
            return False

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        # tile-scan scenes (M > 1), stitched or not, need mosaic/global
        # coordinates — those fall through to the standardized pixels
        if os.path.isfile(self._path) and img.mosaic_tile_dims is None:
            return read_lif_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x,
                                   scene=img.current_scene_index)
        return None

    def read_planes(self, spark, img):
        if os.path.isfile(self._path) and img.mosaic_tile_dims is None:
            return read_lif_planes(spark, self._path,
                                   scene=img.current_scene_index)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.lif import parse_lif_header
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if len(paths) != 1:
            raise ValueError("LifImageReader reads one .lif file")
        path = os.path.abspath(paths[0])
        header = parse_lif_header(path)
        if not header["scenes"]:
            raise ValueError(f"{path}: LIF holds no images")

        scenes, channels, tile_rows, plan = [], [], [], []
        for si, sc in enumerate(header["scenes"]):
            t_n, c_n, z_n, y_n, x_n = sc["shape"]
            m_n = sc.get("m_n", 1)
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, c_n, si))
            pps = self._pps
            if pps is None and sc["pps"]:
                pz, py, px_ = sc["pps"]
                pps = PhysicalPixelSizes(Z=pz, Y=py, X=px_)
            # tile-scan stage positions (µm) -> pixel offsets for the
            # M1 stitch, via the scene's pixel size
            if m_n > 1 and sc.get("tiles_um") and pps and pps.Y \
                    and pps.X:
                ys = [p_[0] for p_ in sc["tiles_um"]]
                xs = [p_[1] for p_ in sc["tiles_um"]]
                for m, (py_, px2) in enumerate(sc["tiles_um"]):
                    tile_rows.append({
                        "image_id": self._image_id, "scene": scene,
                        "m": m,
                        "y_off": int(round((py_ - min(ys)) / pps.Y)),
                        "x_off": int(round((px2 - min(xs)) / pps.X))})
            scenes.append(scene_row(
                self._image_id, scene, si, sc["dtype"],
                dict(T=t_n, C=c_n, Z=z_n, Y=y_n, X=x_n,
                     M=m_n if m_n > 1 else None),
                dim_order=("M" if m_n > 1 else "") + "TCZYX", pps=pps,
                metadata=header["xml"]))
            for m in range(m_n):
                for t in range(t_n):
                    for c in range(c_n):
                        for z in range(z_n):
                            plan.append({
                                "path": path, "scene": scene,
                                "scene_i": si,
                                "m": m if m_n > 1 else -1,
                                "t": t, "c": c, "z": z})

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for r, plane in _read_planes(it):
                yield plane_frame(plane, r.t, r.c, r.z, scene=r.scene,
                                  m=r.m)

        px = (plan_pixels(spark, plan, batches,
                          "scene string, m int, " + WINDOW_SCHEMA,
                          nbytes=scene_bytes(scenes))
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  F.lit(0).alias("res_level"), "t", "c", "z", "y", "x",
                  "m", F.lit(-1).alias("s"), "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(
            pixels=px, scenes=scenes, channels=channels,
            tiles=pd.DataFrame(tile_rows) if tile_rows else None)
