"""Olympus OIF (.oif) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .oif). Built on the public INI + plane-TIFF
directory layout (bioio_spark.formats.oif) and the in-repo TIFF codec.

- **Catalog (driver-side)**: one UTF-16 INI decode + a directory
  listing — axis sizes, dye-name channels, µm conversions, the time
  interval. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per plane TIFF; each task
  decodes exactly its file (the TIFF-glob lever) — zero shuffle,
  plane-count parallelism.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.fsio import read_bytes
from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         plane_frame, raw_plane_batches,
                                         scene_bytes, standardize, trim)


def _plane_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from bioio_spark.formats.tiff import decode_tiff

    for pdf in it:
        for r in pdf.itertuples():
            planes, _desc = decode_tiff(read_bytes(r.path))
            yield plane_frame(planes[0], r.t, r.c, r.z)


def read_oif_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned OIF read: t/c/z selectors prune whole plane FILES
    (driver-side grid arithmetic); within each surviving file the
    (y, x) window prunes strips via the shared seek-based TIFF
    planning (uncompressed single-strip planes read as one row-range
    GET). Residual trim is a codegen filter."""
    from bioio_spark.formats.oif import read_oif_catalog
    from bioio_spark.formats.tiff import iter_tiff_chunks

    cat = read_oif_catalog(path)
    t0, t1 = norm_window(t, cat["size_t"])
    c0, c1 = norm_window(c, cat["size_c"])
    z0, z1 = norm_window(z, cat["size_z"])
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    plan = []
    for (ti, ci, zi), p in cat["planes"].items():
        if not (t0 <= ti < t1 and c0 <= ci < c1 and z0 <= zi < z1):
            continue
        pg = iter_tiff_chunks(p)[0]
        row_bytes = pg["w"] * np.dtype(pg["dtype"]).itemsize
        for ch in pg["chunks"]:
            ry0 = max(ch["y0"], y0)
            ry1 = min(ch["y0"] + ch["h"], y1)
            if ry0 >= ry1:
                continue
            if pg["comp"] == 1:
                plan.append({
                    "path": os.path.abspath(p), "t": ti, "c": ci,
                    "z": zi,
                    "offset": ch["offset"]
                    + (ry0 - ch["y0"]) * row_bytes,
                    "nbytes": (ry1 - ry0) * row_bytes,
                    "y0": ry0, "ny": ry1 - ry0, "nx": pg["w"],
                    "dtype": pg["dtype"],
                })
            else:
                raise ValueError(
                    f"{p}: compressed OIF planes not supported on the "
                    f"windowed path; use the full reader")
    if not plan:
        return empty_window(spark)
    return trim(plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(plan)),
                x=(x0, x1))


class OifImageReader(PlannedReader):
    """BioImage reader over Olympus OIF plane-file directories."""

    EXTENSIONS = (".oif",)
    DIM_ORDER_ERROR = "OIF axis sizes come from the INI's Axis sections"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.oif import read_oif_catalog

        return read_oif_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_oif_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.tiff import iter_tiff_chunks
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        names = self._channel_names or cat["channel_names"]
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(names, cat["size_c"], 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        # dtype from one plane's IFD (a few bytes, no pixel IO)
        pg0 = iter_tiff_chunks(next(iter(cat["planes"].values())))[0]
        if (pg0["h"], pg0["w"]) != (cat["size_y"], cat["size_x"]):
            raise ValueError(
                f"{self._path}: plane files are "
                f"{pg0['w']}x{pg0['h']}, INI says "
                f"{cat['size_x']}x{cat['size_y']}")
        scenes = [scene_row(
            self._image_id, scene, 0, pg0["dtype"],
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps, time_interval=cat["time_interval"],
            metadata="OIF FLUOVIEW")]
        plan = [{"path": os.path.abspath(p), "t": t, "c": c, "z": z}
                for (t, c, z), p in sorted(cat["planes"].items())]
        px = standardize(
            plan_pixels(spark, plan, _plane_batches, WINDOW_SCHEMA,
                        nbytes=scene_bytes(scenes)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
