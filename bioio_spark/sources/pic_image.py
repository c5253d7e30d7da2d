"""Bio-Rad PIC (.pic) reader — native coverage for the confocal
format the reference routes to bioio-bioformats (ref README.md:74
routes .pic). Built on the public Bio-Rad layout
(bioio_spark.formats.pic); the AXIS_4 note decides whether the plane
axis maps to Z (Microns) or T (Seconds), the Bio-Formats rule.

- **Catalog (driver-side)**: one 76-byte header read + the bounded
  note tail (D8 contract).
- **Pixels (executor-side)**: planes are contiguous after the header —
  one plan row per plane, seek-read exactly that byte range (the
  MRC/DV lever)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         raw_plane_batches, standardize, trim)


def read_pic_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned PIC read: the plane axis (T or Z per AXIS_4)
    prunes whole planes; the y window narrows each plane to its
    contiguous row byte range; x trims via codegen filter."""
    from bioio_spark.formats.pic import HEADER_SIZE

    cat = PicImageReader.catalog(path)
    t0, t1 = norm_window(t, cat["size_t"])
    norm_window(c, 1)
    z0, z1 = norm_window(z, cat["size_z"])
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    row_bytes = cat["nx"] * cat["dtype"].itemsize
    t_axis = cat["size_t"] > 1
    lo, hi = (t0, t1) if t_axis else (z0, z1)
    ap = os.path.abspath(path)
    plan = [{"path": ap,
             "t": p if t_axis else 0, "c": 0, "z": 0 if t_axis else p,
             "offset": HEADER_SIZE + p * cat["section_bytes"]
             + y0 * row_bytes,
             "nbytes": (y1 - y0) * row_bytes,
             "y0": y0, "ny": y1 - y0, "nx": cat["nx"],
             "dtype": cat["dtype"].str}
            for p in range(lo, hi)]
    if not plan:
        return empty_window(spark)
    return trim(plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(plan)),
                x=(x0, x1))


class PicImageReader(PlannedReader):
    """BioImage reader over Bio-Rad PIC confocal stacks."""

    EXTENSIONS = (".pic",)
    DIM_ORDER_ERROR = "PIC plane axis comes from the AXIS_4 note"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.pic import read_pic_catalog

        return read_pic_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_pic_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.pic import HEADER_SIZE
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(self._channel_names, 1, 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        scenes = [scene_row(
            self._image_id, scene, 0, cat["dtype"],
            dict(T=cat["size_t"], C=1, Z=cat["size_z"], Y=cat["size_y"],
                 X=cat["size_x"]),
            pps=pps, time_interval=cat["time_interval"],
            metadata=f"Bio-Rad PIC: {cat['name']}" if cat["name"]
            else "Bio-Rad PIC")]
        t_axis = cat["size_t"] > 1
        ap = os.path.abspath(self._path)
        plan = [{"path": ap,
                 "t": p if t_axis else 0, "c": 0, "z": 0 if t_axis else p,
                 "offset": HEADER_SIZE + p * cat["section_bytes"],
                 "nbytes": cat["section_bytes"],
                 "y0": 0, "ny": cat["ny"], "nx": cat["nx"],
                 "dtype": cat["dtype"].str}
                for p in range(cat["npic"])]
        px = standardize(
            plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
