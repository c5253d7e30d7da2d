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

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


class MrcImageReader(PlannedReader):
    """BioImage reader over MRC-2014 volumes (plugin tier)."""

    EXTENSIONS = (".mrc", ".st", ".map", ".rec")
    DIM_ORDER_ERROR = "MRC sections map to Z; dim_order is fixed"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def catalog(path: str) -> dict:
        """The first volume's header (a directory's first file)."""
        from bioio_spark.formats.mrc import read_mrc_header

        return read_mrc_header(MrcImageReader.paths(path)[0])

    def plan(self) -> Plan:
        from bioio_spark.formats.mrc import read_mrc_header
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
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
            plan += [{"path": ap, "scene": scene, "z": z,
                      "offset": h["data_offset"] + z * h["section_bytes"],
                      "nbytes": h["section_bytes"],
                      "dtype": h["dtype"].str} for z in range(h["nz"])]
        return Plan(plan, scenes, channels)
