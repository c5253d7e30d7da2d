"""DICOM (.dcm) reader — native coverage for a format the reference
can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .dcm). Layout per the public DICOM standard
(bioio_spark.formats.dicom); multi-frame files map frames to Z (the
Bio-Formats convention for volumes), PixelSpacing/SpacingBetweenSlices
(millimeters) convert to µm pixel sizes.

- **Catalog (driver-side)**: one element walk that seek-skips
  PixelData — KBs of reads on any file size (D8 contract).
- **Pixels (executor-side)**: frames are contiguous in PixelData, so
  the driver plans one row per frame byte range; a directory of .dcm
  files (the series-per-directory convention) reads as scenes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_bytes,
                                         raw_plane_batches, standardize, trim)


def read_dicom_window(spark: SparkSession, path: str,
                      t=None, c=None, z=None, y=None, x=None):
    """Window-pruned DICOM read: z prunes whole FRAMES, the y window
    narrows each surviving frame to its contiguous row byte range; x
    trims via codegen filter."""
    from bioio_spark.formats.dicom import parse_dicom

    attrs = parse_dicom(path)
    norm_window(t, 1)
    norm_window(c, 1)
    z0, z1 = norm_window(z, attrs["n_frames"])
    y0, y1 = norm_window(y, attrs["rows"])
    x0, x1 = norm_window(x, attrs["cols"])
    row_bytes = attrs["cols"] * attrs["dtype"].itemsize
    ap = os.path.abspath(path)
    plan = [{"path": ap, "t": 0, "c": 0, "z": z_,
             "offset": attrs["pixel_offset"]
             + z_ * attrs["frame_bytes"] + y0 * row_bytes,
             "nbytes": (y1 - y0) * row_bytes,
             "y0": y0, "ny": y1 - y0, "nx": attrs["cols"],
             "dtype": attrs["dtype"].str}
            for z_ in range(z0, z1)]
    if not plan:
        return empty_window(spark)
    return trim(plan_pixels(spark, plan, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(plan)),
                x=(x0, x1))


class DicomImageReader(PlannedReader):
    """BioImage reader over Part-10 DICOM files / series dirs."""

    EXTENSIONS = (".dcm", ".dicom")
    DIM_ORDER_ERROR = "DICOM frames map to Z; dim_order is fixed"

    @staticmethod
    def catalog(path: str) -> dict:
        """The first file's attributes (a series directory's first)."""
        from bioio_spark.formats.dicom import parse_dicom

        return parse_dicom(DicomImageReader.paths(path)[0])

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_dicom_window(spark, self._path,
                                     t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.dicom import parse_dicom
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No DICOM files under {self._path}")
        scenes, channels, plan = [], [], []
        for si, p in enumerate(paths):
            attrs = parse_dicom(p)
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            pps = self._pps
            if pps is None and "pixel_spacing" in attrs:
                # DICOM spacings are millimeters; catalog speaks µm
                ry, rx = attrs["pixel_spacing"]
                sz = attrs.get("slice_spacing")
                pps = PhysicalPixelSizes(
                    Z=sz * 1000.0 if sz else None,
                    Y=ry * 1000.0, X=rx * 1000.0)
            scenes.append(scene_row(
                self._image_id, scene, si, attrs["dtype"],
                dict(T=1, C=1, Z=attrs["n_frames"], Y=attrs["rows"],
                     X=attrs["cols"]),
                pps=pps, metadata=attrs.get("description")))
            ap = os.path.abspath(p)
            for z in range(attrs["n_frames"]):
                plan.append({
                    "path": ap, "scene": scene, "t": 0, "c": 0, "z": z,
                    "offset": attrs["pixel_offset"]
                    + z * attrs["frame_bytes"],
                    "nbytes": attrs["frame_bytes"],
                    "y0": 0, "ny": attrs["rows"], "nx": attrs["cols"],
                    "dtype": attrs["dtype"].str})
        px = standardize(
            plan_pixels(spark, plan, raw_plane_batches,
                        "scene string, " + WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
