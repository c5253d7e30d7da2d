"""Zeiss LSM (.lsm) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge
(ref README.md:74 routes .lsm to the Bio-Formats long tail). Built on
the in-repo TIFF IFD walk + the public CZ_LSMINFO layout
(bioio_spark.formats.lsm).

- **Catalog (driver-side)**: one IFD walk (a few KB of seek reads)
  plus the 160-byte CZ_LSMINFO struct and the channel-names block —
  axis sizes, dtype, voxel sizes (meters -> µm), time interval,
  channel names. The D8 metadata-only contract: no pixel IO.
- **Pixels (executor-side)**: LSM strips are UNCOMPRESSED channel
  planes (PlanarConfiguration=2), so the driver plans one row per
  (page, strip) = (t, z, c, y-range) byte range and a `mapInPandas`
  seek-reads exactly its strip — at object-store scale each task is
  one ranged GET, zero shuffle (the DV/SLDY lever).
- Thumbnail pages (NewSubfileType bit 0) are skipped: they are
  display-only reductions, not pyramid levels of the data.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (PLANES_SCHEMA, WINDOW_SCHEMA,
                                         PlannedReader, empty_window,
                                         grid_tile, norm_window, payload_frame,
                                         plain_scene, plan_pixels, plane_bytes,
                                         plane_frame, standardize, trim,
                                         with_tile)


def _plan_strips(path: str):
    """(info, channel_names, plan rows): one row per (t, z, c) strip
    byte range, from the catalog walk only."""
    from bioio_spark.formats.lsm import read_lsm_catalog

    cat = read_lsm_catalog(path)
    info, pages = cat["info"], cat["pages"]
    z_n = max(info["size_z"], 1)
    ap = os.path.abspath(path)
    plan = []
    for p_idx, pg in enumerate(pages):
        t, z = divmod(p_idx, z_n)
        if pg["comp"] not in (1, 5):
            raise ValueError(
                f"{path}: LSM page compression {pg['comp']} not "
                f"supported (LSM writes raw or LZW)")
        for ch in pg["chunks"]:
            plan.append({
                "path": ap, "t": t, "z": z, "c": ch["s"],
                "offset": ch["offset"], "nbytes": ch["nbytes"],
                "y0": ch["y0"], "ny": ch["h"], "nx": pg["w"],
                "dtype": pg["dtype"], "comp": pg["comp"],
                "pred": pg["pred"],
            })
    return info, cat["channel_names"], plan


def _strip(r) -> np.ndarray:
    """Seek-read the channel-plane strip of one plan row (raw bytes, or
    whole-strip LZW decode for wild compressed acquisitions — TIFF 6.0
    §13, optionally with the horizontal predictor)."""
    from bioio_spark.formats.tiff import (_undo_horizontal_predictor,
                                          decompress_tiff_chunk)

    buf = read_range(r.path, r.offset, r.nbytes)
    if r.comp != 1:
        buf = decompress_tiff_chunk(buf, r.comp)
    plane = np.frombuffer(
        buf, dtype=np.dtype(r.dtype),
        count=r.ny * r.nx).reshape(r.ny, r.nx)
    if r.pred == 2:
        plane = _undo_horizontal_predictor(plane)
    return plane


def _strip_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        for r in pdf.itertuples():
            yield plane_frame(_strip(r), r.t, r.c, r.z, y0=r.y0)


def read_lsm_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned LSM read: t/z selectors prune whole PAGES, c
    prunes whole strips (one strip per channel plane), and the y window
    narrows each surviving strip's read to its contiguous row range
    (strip rows are contiguous, so a y-window is a byte range). The x
    trim is a residual codegen filter. Selector forms match the other
    window readers (None / int / (start, stop) / slice)."""
    info, _names, plan = _plan_strips(path)
    t0, t1 = norm_window(t, max(info["size_t"], 1))
    c0, c1 = norm_window(c, max(info["size_c"], 1))
    z0, z1 = norm_window(z, max(info["size_z"], 1))
    y0, y1 = norm_window(y, info["size_y"])
    x0, x1 = norm_window(x, info["size_x"])
    pruned = []
    for r in plan:
        if not (t0 <= r["t"] < t1 and c0 <= r["c"] < c1
                and z0 <= r["z"] < z1):
            continue
        ry0, ry1 = max(r["y0"], y0), min(r["y0"] + r["ny"], y1)
        if ry0 >= ry1:
            continue
        if r["comp"] == 1:
            # raw strips: the y window is a byte range
            row_bytes = r["nbytes"] // r["ny"]
            pruned.append({**r,
                           "offset": r["offset"]
                           + (ry0 - r["y0"]) * row_bytes,
                           "nbytes": (ry1 - ry0) * row_bytes,
                           "y0": ry0, "ny": ry1 - ry0})
        else:
            # LZW strips decode whole; y trims in the residual filter
            pruned.append(r)
    if not pruned:
        return empty_window(spark)
    return trim(plan_pixels(spark, pruned, _strip_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(pruned)),
                x=(x0, x1), y=(y0, y1))


def read_lsm_planes(spark: SparkSession, path: str):
    """ZERO-SHUFFLE strip -> planes-layout read: one payload row per
    (t, z, c) channel-plane strip, the LSM member of the planes
    family."""
    _info, _names, plan = _plan_strips(path)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples():
                yield payload_frame(_strip(r), r.t, r.c, r.z, y0=r.y0)

    return with_tile(
        plan_pixels(spark, plan, batches, PLANES_SCHEMA,
                    nbytes=plane_bytes(plan)),
        grid_tile((r["y0"], 0, r["ny"], r["nx"]) for r in plan))


class LsmImageReader(PlannedReader):
    """BioImage reader over Zeiss LSM files (plugin tier)."""

    EXTENSIONS = (".lsm",)
    DIM_ORDER_ERROR = "LSM dimension order comes from CZ_LSMINFO"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.lsm import read_lsm_catalog

        return read_lsm_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_lsm_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def read_planes(self, spark, img):
        if os.path.isfile(self._path):
            return read_lsm_planes(spark, self._path)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        info, names, plan = _plan_strips(self._path)
        scene = "Image:0"
        c_n = max(info["size_c"], 1)
        use_names = self._channel_names or (names or None)
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(use_names, c_n, 0))
        pps = self._pps
        vx, vy, vz = info["voxel_m"]
        if pps is None and any((vx, vy, vz)):
            # CZ_LSMINFO voxel sizes are METERS; catalog speaks µm
            pps = PhysicalPixelSizes(
                Z=vz * 1e6 if vz else None,
                Y=vy * 1e6 if vy else None,
                X=vx * 1e6 if vx else None)
        scenes = [scene_row(
            self._image_id, scene, 0, plan[0]["dtype"],
            dict(T=max(info["size_t"], 1), C=c_n,
                 Z=max(info["size_z"], 1), Y=info["size_y"],
                 X=info["size_x"]),
            pps=pps, time_interval=info["time_interval"] or None,
            metadata=(f"LSM ScanType={info['scan_type']} "
                      f"DataType={info['data_type']}"))]

        px = standardize(
            plan_pixels(spark, plan, _strip_batches, WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
