"""MetaMorph STK (.stk) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .stk). Built on the in-repo TIFF IFD walk plus the
public UIC-tag layout (bioio_spark.formats.stk).

- **Catalog (driver-side)**: one IFD + UIC2 scan gives plane count,
  the Z-vs-T axis rule (nonzero z-distance -> Z), z spacing, and the
  wavelength — no pixel IO (D8 contract).
- **Pixels (executor-side)**: STK planes are contiguous raw blocks at
  ``base + i * plane_bytes``, so the driver plans one row per plane
  and a `mapInPandas` seek-reads exactly its plane — one ranged GET
  per plane at object-store scale, zero shuffle (the DV lever).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         raw_plane_batches, standardize, trim)


def _plan_planes(path: str):
    from bioio_spark.formats.stk import read_stk_catalog

    cat = read_stk_catalog(path)
    pg = cat["page"]
    ap = os.path.abspath(path)
    z_axis = cat["axis"] == "Z"
    plan = [{
        "path": ap,
        "t": 0 if z_axis else i, "c": 0, "z": i if z_axis else 0,
        "offset": off, "nbytes": cat["plane_bytes"],
        "y0": 0, "ny": pg["h"], "nx": pg["w"], "dtype": pg["dtype"],
    } for i, off in enumerate(cat["plane_offsets"])]
    return cat, plan


def read_stk_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned STK read: the stack selector (t or z per the axis
    rule) prunes whole planes, the y window narrows each surviving
    plane to its contiguous row byte range; x trims via a residual
    codegen filter. Selector forms match the window-read family."""
    cat, plan = _plan_planes(path)
    pg = cat["page"]
    n = cat["n_planes"]
    z_axis = cat["axis"] == "Z"
    t0, t1 = norm_window(t, n if not z_axis else 1)
    norm_window(c, 1)
    z0, z1 = norm_window(z, n if z_axis else 1)
    y0, y1 = norm_window(y, pg["h"])
    x0, x1 = norm_window(x, pg["w"])
    row_bytes = pg["w"] * np.dtype(pg["dtype"]).itemsize
    pruned = []
    for r in plan:
        if not (t0 <= r["t"] < t1 and z0 <= r["z"] < z1):
            continue
        pruned.append({**r,
                       "offset": r["offset"] + y0 * row_bytes,
                       "nbytes": (y1 - y0) * row_bytes,
                       "y0": y0, "ny": y1 - y0})
    if not pruned:
        return empty_window(spark)
    return trim(plan_pixels(spark, pruned, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(pruned)),
                x=(x0, x1))


class StkImageReader(PlannedReader):
    """BioImage reader over MetaMorph STK plane stacks (plugin tier)."""

    EXTENSIONS = (".stk",)
    DIM_ORDER_ERROR = "STK axis mapping follows the UIC2 z-distance rule"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.stk import read_stk_catalog

        return read_stk_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_stk_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat, plan = _plan_planes(self._path)
        pg = cat["page"]
        scene = "Image:0"
        names = self._channel_names
        if names is None and cat["wavelength"]:
            names = [str(int(round(cat["wavelength"])))]
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(names, 1, 0))
        pps = self._pps
        if pps is None and cat["z_distance"]:
            pps = PhysicalPixelSizes(Z=cat["z_distance"], Y=None, X=None)
        z_axis = cat["axis"] == "Z"
        scenes = [scene_row(
            self._image_id, scene, 0, pg["dtype"],
            dict(T=1 if z_axis else cat["n_planes"], C=1,
                 Z=cat["n_planes"] if z_axis else 1, Y=pg["h"],
                 X=pg["w"]),
            pps=pps,
            metadata=f"STK axis={cat['axis']} planes={cat['n_planes']}")]

        px = standardize(
            plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
