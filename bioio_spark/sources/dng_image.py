"""Adobe DNG (.dng) camera-RAW reader — native coverage for the
openly-specified corner of the camera-RAW tail the reference reaches
only through the bioio-bioformats Java bridge (ref README.md:70
"Bio-Formats supported file formats" includes DNG/camera RAW).

- **Catalog (driver-side)**: one IFD walk (`formats/dng.py`) gives
  dims, strip byte ranges, CFA pattern, black/white levels — no pixel
  IO (D8 contract).
- **Pixels (executor-side)**: one plan row per strip; uncompressed
  strips slice straight from the ranged read, lossless-JPEG strips
  (Compression 7, the DNG-mandated codec) decode through the in-repo
  SOF3 codec (`formats/ljpeg.py`) — each strip is its own complete
  codestream, so strips are the independent read+decode granularity:
  one ranged GET each, zero shuffle.

The CFA mosaic is exposed un-demosaiced as a single-channel YX plane
(channel name = the CFA pattern string, e.g. "RGGB") — demosaicing is
an interpolation POLICY, not a property of the file, so it belongs to
downstream operators; this matches how the raw IFD actually stores
samples.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         plane_frame, standardize, trim)


def _plan_strips(path: str):
    cat = DngImageReader.catalog(path)
    ap = os.path.abspath(path)
    plan = [{
        "path": ap, "offset": ch["offset"], "nbytes": ch["nbytes"],
        "y0": ch["y0"], "ny": ch["h"], "nx": ch["w"],
        "comp": cat["comp"], "dtype": cat["dtype"],
    } for ch in cat["chunks"]]
    return cat, plan


def _strip_array(r) -> np.ndarray:
    buf = read_range(r.path, r.offset, r.nbytes)
    if r.comp == 7:
        from bioio_spark.formats.ljpeg import decode_ljpeg
        return decode_ljpeg(buf)
    return np.frombuffer(buf, dtype=np.dtype(r.dtype),
                         count=r.ny * r.nx).reshape(r.ny, r.nx)


def _strip_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        for r in pdf.itertuples():
            yield plane_frame(_strip_array(r), 0, 0, 0, y0=r.y0)


def read_dng_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned DNG read: the y window prunes whole strips
    driver-side (uncompressed strips additionally narrow to the
    touched row byte range; SOF3 strips are the decode granularity);
    x/y trim is a residual codegen filter."""
    cat, plan = _plan_strips(path)
    norm_window(t, 1)
    norm_window(c, 1)
    norm_window(z, 1)
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    pruned = []
    for r in plan:
        if r["y0"] + r["ny"] <= y0 or r["y0"] >= y1:
            continue
        if r["comp"] == 1:
            lo = max(y0, r["y0"])
            hi = min(y1, r["y0"] + r["ny"])
            row_bytes = r["nx"] * np.dtype(r["dtype"]).itemsize
            pruned.append({**r,
                           "offset": r["offset"]
                           + (lo - r["y0"]) * row_bytes,
                           "nbytes": (hi - lo) * row_bytes,
                           "y0": lo, "ny": hi - lo})
        else:
            pruned.append(r)
    if not pruned:
        return empty_window(spark)
    return trim(plan_pixels(spark, pruned, _strip_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(pruned)),
                y=(y0, y1), x=(x0, x1))


class DngImageReader(PlannedReader):
    """BioImage reader over Adobe DNG camera-RAW mosaics."""

    EXTENSIONS = (".dng",)
    DIM_ORDER_ERROR = "DNG raw mosaics are always single-plane YX"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.dng import read_dng_catalog

        return read_dng_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_dng_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)

        cat, plan = _plan_strips(self._path)
        scene = "Image:0"
        names = self._channel_names
        if names is None and cat["cfa_pattern"]:
            names = [cat["cfa_pattern"]]
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(names, 1, 0))
        scenes = [scene_row(
            self._image_id, scene, 0, cat["dtype"],
            dict(T=1, C=1, Z=1, Y=cat["size_y"], X=cat["size_x"]),
            pps=self._pps,
            metadata=(f"DNG {cat['dng_version']} model="
                      f"{cat['model']} cfa={cat['cfa_pattern']} "
                      f"black={cat['black_level']} "
                      f"white={cat['white_level']} "
                      f"comp={cat['comp']}"))]
        px = standardize(
            plan_pixels(spark, plan, _strip_batches, WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
