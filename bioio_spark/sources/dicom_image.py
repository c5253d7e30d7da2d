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

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


class DicomImageReader(PlannedReader):
    """BioImage reader over Part-10 DICOM files / series dirs."""

    EXTENSIONS = (".dcm", ".dicom")
    DIM_ORDER_ERROR = "DICOM frames map to Z; dim_order is fixed"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def catalog(path: str) -> dict:
        """The first file's attributes (a series directory's first)."""
        from bioio_spark.formats.dicom import parse_dicom

        return parse_dicom(DicomImageReader.paths(path)[0])

    def plan(self) -> Plan:
        from bioio_spark.formats.dicom import parse_dicom
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
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
            plan += [{"path": ap, "scene": scene, "z": z,
                      "offset": attrs["pixel_offset"]
                      + z * attrs["frame_bytes"],
                      "nbytes": attrs["frame_bytes"],
                      "dtype": attrs["dtype"].str}
                     for z in range(attrs["n_frames"])]
        return Plan(plan, scenes, channels)
