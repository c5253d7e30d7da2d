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

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


class PicImageReader(PlannedReader):
    """BioImage reader over Bio-Rad PIC confocal stacks."""

    EXTENSIONS = (".pic",)
    DIM_ORDER_ERROR = "PIC plane axis comes from the AXIS_4 note"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.pic import read_pic_catalog

        return read_pic_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.formats.pic import HEADER_SIZE
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
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
        axis = "t" if cat["size_t"] > 1 else "z"
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "scene": scene, axis: p,
                 "offset": HEADER_SIZE + p * cat["section_bytes"],
                 "nbytes": cat["section_bytes"],
                 "dtype": cat["dtype"].str}
                for p in range(cat["npic"])]
        return Plan(plan, scenes, channels)
