"""MRC (.mrc / .st / .map) reader — native coverage for the cryo-EM
volume standard the reference routes to bioio-bioformats (ref
README.md:74). Built on the public MRC-2014 layout
(bioio_spark.formats.mrc); sections map to Z, the cell's Å-per-sample
pixel size converts to µm (1 Å = 1e-4 µm).

- **Catalog (driver-side)**: one 1024-byte header read (D8 contract).
- **Pixels (executor-side)**: sections are contiguous after the
  extended header — one plan row per Z section, seek-read exactly
  that plane (the DV lever; DV is MRC's fork)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         raw_plane_batches, standardize, trim)


def read_mrc_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned MRC read: z prunes whole SECTIONS, the y window
    narrows each section to its contiguous row byte range; x trims via
    codegen filter."""
    from bioio_spark.formats.mrc import read_mrc_header

    h = read_mrc_header(path)
    norm_window(t, 1)
    norm_window(c, 1)
    z0, z1 = norm_window(z, h["nz"])
    y0, y1 = norm_window(y, h["ny"])
    x0, x1 = norm_window(x, h["nx"])
    row_bytes = h["nx"] * h["dtype"].itemsize
    ap = os.path.abspath(path)
    plan = [{"path": ap, "t": 0, "c": 0, "z": z_,
             "offset": h["data_offset"] + z_ * h["section_bytes"]
             + y0 * row_bytes,
             "nbytes": (y1 - y0) * row_bytes,
             "y0": y0, "ny": y1 - y0, "nx": h["nx"],
             "dtype": h["dtype"].str}
            for z_ in range(z0, z1)]
    if not plan:
        return empty_window(spark)
    return trim(plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(plan)),
                x=(x0, x1))


class MrcImageReader(PlannedReader):
    """BioImage reader over MRC-2014 volumes (plugin tier)."""

    EXTENSIONS = (".mrc", ".st", ".map", ".rec")
    DIM_ORDER_ERROR = "MRC sections map to Z; dim_order is fixed"

    @staticmethod
    def catalog(path: str) -> dict:
        """The first volume's header (a directory's first file)."""
        from bioio_spark.formats.mrc import read_mrc_header

        return read_mrc_header(MrcImageReader.paths(path)[0])

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_mrc_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.mrc import read_mrc_header
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No MRC files under {self._path}")
        scenes, channels, plan = [], [], []
        for si, p in enumerate(paths):
            h = read_mrc_header(p)
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            pps = self._pps
            if pps is None and h["pixel_size_a"]:
                um = h["pixel_size_a"] * 1e-4   # Å -> µm
                pps = PhysicalPixelSizes(Z=um, Y=um, X=um)
            scenes.append(scene_row(
                self._image_id, scene, si, h["dtype"],
                dict(T=1, C=1, Z=h["nz"], Y=h["ny"], X=h["nx"]),
                pps=pps, metadata="; ".join(h["labels"]) or None))
            ap = os.path.abspath(p)
            for z in range(h["nz"]):
                plan.append({
                    "path": ap, "scene": scene, "t": 0, "c": 0, "z": z,
                    "offset": h["data_offset"] + z * h["section_bytes"],
                    "nbytes": h["section_bytes"],
                    "y0": 0, "ny": h["ny"], "nx": h["nx"],
                    "dtype": h["dtype"].str})
        px = standardize(
            plan_pixels(spark, plan, raw_plane_batches,
                        "scene string, " + WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
